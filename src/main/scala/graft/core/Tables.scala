package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed access to the driver testdata star schema + stream/LLM tables
  * (`TESTDATA.md`): region, nation, customer, supplier, part, orders,
  * lineitem, events, documents, embeddings — one parquet per table under a
  * scale-factor directory.
  *
  * Every reader is a plain `spark.read.parquet` so Catalyst owns pushdown,
  * pruning, and partition planning; no eager caching (callers decide).
  */
final class Tables(spark: SparkSession, sfDir: String) {
  GraftSession.ensureConfigured(spark)

  private def load(name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region: DataFrame = load("region")
  def nation: DataFrame = load("nation")
  def customer: DataFrame = load("customer")
  def supplier: DataFrame = load("supplier")
  def part: DataFrame = load("part")
  def orders: DataFrame = load("orders")
  def lineitem: DataFrame = load("lineitem")

  /** NOT spread at the source, deliberately: a global [[Tables.spreadScan]]
    * here measured well but (a) changes which rows a partition-sensitive
    * seeded `sample()` draws (BPE sampled learning), and (b) puts an
    * Exchange under the standing-model/BPE SERVING scans whose map-only
    * plan shape is a pinned scale contract. Consumers that do heavy
    * per-row work spread at their own call site instead.
    */
  def documents: DataFrame = load("documents")
  def embeddings: DataFrame = load("embeddings")

  /** Raw events with `ts` CANONICALIZED to epoch-nano bigint.
    *
    * The driver has shipped the events table with two physical `ts`
    * encodings across testdata generations: parquet NANO timestamps
    * (which Spark surfaces as bigint nanos — it has no nanosecond
    * timestamp type) and parquet MICRO timestamps (surfaced as
    * TimestampType). All downstream nano arithmetic (as-of tolerances,
    * range-join windows, funnel ordering) is written against the nano
    * bigint; [[Tables.canonicalizeEventTs]] maps either encoding onto it
    * losslessly, so a testdata regeneration can't break the operators.
    */
  def eventsRaw: DataFrame = Tables.canonicalizeEventTs(load("events"))

  /** Events with `ts_ts` timestamp column derived from the nano epoch.
    * Nanos -> micros via integer division, then `timestamp_micros`.
    */
  def events: DataFrame =
    eventsRaw.withColumn("ts_ts", Tables.nanosToTimestamp(col("ts")))
}

object Tables {
  def apply(spark: SparkSession, sfDir: String): Tables = new Tables(spark, sfDir)

  /** Bytes of scan input per spread partition. Only shapes scans SMALLER
    * than the core count (the helper no-ops at real scale), where it
    * stops a tiny input from being round-robined into `cores` near-empty
    * shuffle blocks: the 8-vs-32-core scaling data showed exactly those
    * queries running FASTER on fewer cores. ~64 KB of these text/orders
    * tables is a few hundred rows — 100+ ms of tokenize-class CPU per
    * task, amortizing the per-block exchange and scheduling cost.
    */
  private val SpreadTargetBytes: Long = 64L * 1024

  /** Spread an UNDER-PARTITIONED scan across the available cores before
    * CPU-heavy per-row work (tokenize/explode, shingle, hash-family,
    * sketch partial-aggregation). A single unsplittable parquet file
    * (one row group) yields a one-partition scan, which serializes all
    * map-side compute onto one core — the guide's "one huge unsplittable
    * file → repartition immediately after the read" case. Adaptive, not
    * a local-mode constant: when the scan already has at least
    * `defaultParallelism` partitions (any real-scale input), this is a
    * NO-OP — no shuffle is added, no payload moves. Round-robin
    * assignment is deterministic (Spark sorts before round-robin
    * repartition so retried tasks reproduce the assignment).
    */
  def spreadScan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    estimatedScanSize(df) match {
      case Some((parts, bytes)) if parts < p =>
        val want = math.min(p.toLong, math.max(1L,
          (bytes + SpreadTargetBytes - 1) / SpreadTargetBytes)).toInt
        if (want > parts) df.repartition(want) else df
      case Some(_) => df
      case None =>
        if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    }
  }

  /** [[spreadScan]] for SUPERLINEAR kernels (all-pairs / quadratic
    * compute over a byte-small input): bytes under-estimate the work, so
    * the spread goes to the full core count rather than the byte-derived
    * width. Still adaptive — a scan that already has >= cores partitions
    * is untouched.
    */
  def spreadScanWide(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val parts = estimatedScanSize(df).map(_._1).getOrElse(df.rdd.getNumPartitions)
    if (parts < p) df.repartition(p) else df
  }

  /** Planned (partition count, data bytes) of a plain file scan WITHOUT
    * instantiating the physical plan: `df.rdd` builds the whole RDD
    * chain just to ask its partition count — a second full Catalyst pass
    * per spreadScan call, and on a large catalog an extra
    * file-listing/planning pass. Reproduces `FilePartition.maxSplitBytes`
    * packing arithmetic from the relation's already-listed file
    * statistics instead. None when the frame is not project/filter over
    * ONE file relation — those callers fall back to the physical probe,
    * so behavior is unchanged.
    */
  private def estimatedScanSize(df: DataFrame): Option[(Int, Long)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    @annotation.tailrec
    def leaf(plan: LogicalPlan): Option[LogicalRelation] = plan match {
      case lr: LogicalRelation => Some(lr)
      case f: Filter => leaf(f.child)
      case pr: Project => leaf(pr.child)
      case s: SubqueryAlias => leaf(s.child)
      case _ => None
    }
    leaf(df.queryExecution.analyzed).flatMap(_.relation match {
      case fs: HadoopFsRelation =>
        val spark = df.sparkSession
        val conf = spark.sessionState.conf
        val openCost = conf.filesOpenCostInBytes
        val maxSplit = conf.filesMaxPartitionBytes
        val minParts = conf.filesMinPartitionNum
          .getOrElse(spark.sparkContext.defaultParallelism)
        val nFiles = fs.location.inputFiles.length.toLong
        val data = fs.location.sizeInBytes
        val total = data + nFiles * openCost
        val bytesPerCore = total / math.max(minParts, 1)
        val split = math.min(maxSplit, math.max(openCost, bytesPerCore))
        Some((math.min(math.max(1L, (total + split - 1) / split),
          Int.MaxValue.toLong).toInt, data))
      case _ => None
    })
  }

  /** epoch-nanos bigint -> TimestampType (micro precision, truncating).
    * Integral division via decimal: `c / 1000L` would promote to DOUBLE,
    * whose 53-bit mantissa cannot hold epoch-nanos (~1.7e18) — that rounds
    * the microsecond and corrupts timestamps by ±1us.
    */
  def nanosToTimestamp(c: Column): Column =
    timestamp_micros(floor(c.cast("decimal(38,0)") / lit(1000)).cast("long"))

  /** Normalize an events frame so `ts` is epoch-nano bigint regardless of
    * the parquet encoding: TimestampType (micro precision) widens via
    * `unix_micros * 1000` (exact — micros fit a long with room for the
    * 1000 factor until year 2262); TIMESTAMP_NTZ casts through
    * TimestampType first, which is value-preserving under the session's
    * pinned UTC timezone ([[GraftSession]]) and matches DuckDB's naive
    * reading of the same files; bigint passes through.
    */
  def canonicalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
      case _ => df
    }
}
