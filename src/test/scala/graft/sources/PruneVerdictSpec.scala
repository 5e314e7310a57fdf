package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** The driver-side prune verdict: below the file threshold the stats
  * rows are evaluated directly, without a Dataset; above it the verdict
  * runs as a Spark join. Both must keep exactly the same files, and wide
  * IN-lists must not overflow the stack of either path.
  */
class PruneVerdictSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_verdict").resolve("t").toString

  /** 2000 rows clustered on `k` into 8 files: `s` carries a per-file
    * prefix, `d` is null only in the first and sixth files' key ranges,
    * and `b` is scattered over the whole domain (bounds cannot prune it,
    * its bloom can).
    */
  private def statted(): LakeTable = {
    val rows = (0L until 2000L).map { i =>
      val d = if (i < 100 || (i >= 1300 && i < 1400)) None else Some(i * 0.5)
      (i, s"p${i / 250}_$i", d, (i * 7919L) % 2000L)
    }
    val lake = LakeTable(spark, tmp()).write(rows.toDF("k", "s", "d", "b"))
    lake.optimize(Seq("k"), numFiles = Some(8))
    lake.collectStats(Seq("k", "s", "d", "b"), bloomFor = Seq("b"))
    lake
  }

  /** Files kept by the direct (below-threshold) and the Dataset
    * (above-threshold join) verdicts.
    */
  private def bothVerdicts(lake: LakeTable, p: Column): (Seq[String], Seq[String]) = {
    val direct = lake.prunedFiles(p).sorted
    spark.conf.set(LakeTable.PruneDriverThresholdKey, "0")
    try (direct, lake.prunedFiles(p).sorted)
    finally spark.conf.unset(LakeTable.PruneDriverThresholdKey)
  }

  test("direct evaluation keeps exactly the files the Dataset evaluation keeps") {
    val lake = statted()
    val total = lake.prunedFiles(lit(true)).size
    assert(total === 8)
    val bKey = (1234L * 7919L) % 2000L
    val predicates: Seq[(String, Column, Boolean)] = Seq(
      // (name, predicate, must prune at least one file)
      ("eq", col("k") === 17, true),
      ("eq literal-first", lit(10) > col("k"), true),
      ("range", col("k") > 300 && col("k") <= 700, true),
      ("or", col("k") === 1 || col("k") === 1900, true),
      ("in", col("k").isin(3L, 5L, 1500L), true),
      ("inset", col("k").isin((0L until 40L).map(_ * 13L): _*), true),
      ("is null", col("d").isNull, true),
      ("is not null", col("d").isNotNull, false),
      ("starts with", col("s").startsWith("p3_"), true),
      ("bloom eq", col("b") === bKey, true),
      ("bloom in", col("b").isin(bKey, (17L * 7919L) % 2000L), true),
      ("bloom wide in", col("b").isin((0L until 20L).map(i => (i * 7919L) % 2000L): _*), false),
      ("null literal in", col("k").isin(lit(null).cast(LongType), lit(5L)), true),
      ("null-safe null", col("d") <=> lit(null), true),
      ("null literal eq", col("k") === lit(null).cast(LongType), false),
      ("unknown shape", col("s").endsWith("7"), false),
      ("mixed and", col("k") < 500 && col("s").endsWith("7"), true))
    predicates.foreach { case (name, p, prunes) =>
      val (direct, dataset) = bothVerdicts(lake, p)
      assert(direct === dataset, s"$name: direct and Dataset verdicts differ")
      if (prunes) assert(direct.size < total, s"$name: expected pruning, kept all")
    }
    // a column-mapped (renamed) column prunes under its new name, both ways
    lake.renameColumn("k", "key")
    Seq[(String, Column)](
      ("mapped eq", col("key") === 17),
      ("mapped range", col("key") >= 1800),
      ("mapped inset", col("key").isin((0L until 40L).map(_ * 11L): _*))
    ).foreach { case (name, p) =>
      val (direct, dataset) = bothVerdicts(lake, p)
      assert(direct === dataset, s"$name: direct and Dataset verdicts differ")
      assert(direct.size < total, s"$name: expected pruning, kept all")
    }
  }

  /** Runs `body` on a fresh thread with the JVM's default stack size. */
  private def onDefaultStack[T](body: => T): T = {
    var out: Either[Throwable, T] = null
    val t = new Thread(() => out = try Right(body) catch { case e: Throwable => Left(e) })
    t.start()
    t.join()
    out.fold(e => throw e, identity)
  }

  test("a 1000-literal IN-list prunes without overflowing the stack") {
    val lake = statted()
    val keys = (0L until 1000L).map(_ * 2L) // even keys below 2000
    val want = keys.toSet
    val p = col("k").isin(keys: _*)
    val viaReadWhere = onDefaultStack(
      lake.readWhere(p).select("k").collect().map(_.getLong(0)).toSet)
    assert(viaReadWhere === want)
    // the optimizer rule path (a filtered plain parquet read of the table)
    val viaRule = onDefaultStack(spark.read.parquet(lake.path).where(p)
      .select("k").collect().map(_.getLong(0)).toSet)
    assert(viaRule === want)
    // and the verdicts agree, with a bloomed wide list included
    val (direct, dataset) = onDefaultStack(bothVerdicts(lake, p))
    assert(direct === dataset)
    val (bd, bds) = onDefaultStack(bothVerdicts(lake, col("b").isin(keys: _*)))
    assert(bd === bds)
  }

  test("the stats snapshot is reused while the stats are unchanged") {
    val lake = statted()
    val statsDir = s"${lake.path}/${LakeTable.StatsDirName}"
    val fs = new org.apache.hadoop.fs.Path(statsDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val first = LakeTable.statsSnapshot(spark, fs, statsDir)
    assert(LakeTable.statsSnapshot(spark, fs, statsDir) eq first)
    lake.collectStats(Seq("k"))
    val second = LakeTable.statsSnapshot(spark, fs, statsDir)
    assert(!(second eq first), "a rewritten stats table must be re-read")
    assert(second.output.map(_.name).exists(_.startsWith("k__graft")))
    assert(!second.output.map(_.name).exists(_.startsWith("b__graft")))
  }

  test("a snapshot still in use survives the cache filling past its bound") {
    def rel(n: Int) = LocalRelation(Seq.empty, Seq.fill(n)(
      org.apache.spark.sql.catalyst.InternalRow.empty))
    val cache = new StatsSnapshotCache(maxRows = 100)
    val hot = rel(30)
    cache.put("hot", "v1", hot)
    (0 until 20).foreach { i =>
      cache.put(s"cold$i", "v1", rel(30))
      assert(cache.get("hot", "v1").exists(_ eq hot), s"hot evicted at cold$i")
      assert(cache.retainedRows <= 100)
    }
    assert(cache.get("cold0", "v1").isEmpty, "least recently used table kept")
    assert(cache.get("cold19", "v1").isDefined)
    // a stale signature misses; a re-put replaces the entry's rows
    assert(cache.get("hot", "v2").isEmpty)
    cache.put("hot", "v2", rel(10))
    assert(cache.get("hot", "v1").isEmpty && cache.get("hot", "v2").isDefined)
    // one table above the bound is still cached, alone
    val big = rel(500)
    cache.put("big", "v1", big)
    assert(cache.get("big", "v1").exists(_ eq big))
    assert(cache.get("hot", "v2").isEmpty)
    assert(cache.retainedRows === 500)
  }
}
