package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

class OptimizeWhereSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_optwhere").resolve("t").toString

  private def hfs(path: String) =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Partitioned table with several small files per partition. */
  private def fragmented(path: String): LakeTable = {
    val lake = LakeTable(spark, path)
    (0 until 3).foreach { b =>
      val rows = (0 until 40).map(i => (b * 100 + i.toLong, if (i % 2 == 0) "A" else "B"))
      lake.writePartitioned(
        rows.toDF("id", "part").repartition(4),
        Seq("part"), if (b == 0) SaveMode.Overwrite else SaveMode.Append)
    }
    lake
  }

  private def filesIn(path: String, dir: String): Set[String] = {
    val f = hfs(path)
    val p = new HPath(path, dir)
    if (!f.exists(p)) Set.empty
    else f.listStatus(p).map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
  }

  test("optimizeWhere compacts only the matching partition; siblings keep their files") {
    val path = tmp()
    val lake = fragmented(path)
    val aBefore = filesIn(path, "part=A"); val bBefore = filesIn(path, "part=B")
    assert(aBefore.size > 1 && bBefore.size > 1)
    val before = lake.read.orderBy("id").collect().map(_.getLong(0)).toSeq

    lake.optimizeWhere(col("part") === "A")
    assert(filesIn(path, "part=A").size === 1, "partition A must compact to one file")
    assert(filesIn(path, "part=B") === bBefore, "partition B must be untouched")
    assert(lake.read.orderBy("id").collect().map(_.getLong(0)).toSeq === before)
    assert(lake.history.where(col("operation") === "OPTIMIZE WHERE").count() === 1)
    assert(lake.partitionColumns() === Seq("part"))
  }

  test("predicate must reference only partition columns; flat layouts are refused") {
    val path = tmp()
    val lake = fragmented(path)
    val e = intercept[IllegalArgumentException] {
      lake.optimizeWhere(col("id") > 10)
    }
    assert(e.getMessage.contains("partition columns"))

    val flat = LakeTable(spark, tmp())
      .write(Seq((1L, "x")).toDF("id", "v"), SaveMode.Overwrite)
    val e2 = intercept[IllegalArgumentException] {
      flat.optimizeWhere(col("v") === "x")
    }
    assert(e2.getMessage.contains("not Hive-partitioned"))
  }

  test("SQL: OPTIMIZE … WHERE routes to the partition compaction") {
    val path = tmp()
    fragmented(path)
    val bBefore = filesIn(path, "part=B")
    spark.sql(s"OPTIMIZE graft_lake('$path') WHERE part = 'A'")
    assert(filesIn(path, "part=A").size === 1)
    assert(filesIn(path, "part=B") === bBefore)
    // WHERE + ZORDER BY is rejected with a parse error
    val e = intercept[Exception] {
      spark.sql(s"OPTIMIZE graft_lake('$path') WHERE part = 'A' ZORDER BY (id)")
    }
    assert(e.getMessage.toLowerCase.contains("zorder"))
  }

  test("optimize, optimizeZorder and optimizeHilbert keep a Hive-partitioned layout") {
    val path = tmp()
    val lake = fragmented(path)
    val before = lake.read.orderBy("id").as[(Long, String)].collect().toSeq
    lake.compact()
    assert(lake.partitionColumns() === Seq("part"))
    lake.optimize(Seq("id"))
    assert(lake.partitionColumns() === Seq("part"))
    lake.optimizeZorder(Seq("id"), numFiles = Some(2))
    assert(lake.partitionColumns() === Seq("part"))
    lake.optimizeHilbert(Seq("id"), numFiles = Some(2))
    assert(lake.partitionColumns() === Seq("part"))
    // no flat files beside the partition dirs, and the rows are unchanged
    assert(!hfs(path).listStatus(new HPath(path)).exists(_.getPath.getName.endsWith(".parquet")))
    assert(filesIn(path, "part=A").nonEmpty && filesIn(path, "part=B").nonEmpty)
    assert(lake.read.orderBy("id").as[(Long, String)].collect().toSeq === before)
  }
}
