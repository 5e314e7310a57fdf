package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.core.GraftSession

/** Ad-hoc reproducer for CrashInjectionSpec failures — prints the
  * directory tree and read state around one fuse position.
  * Usage: Test/runMain graft.sources.CrashDebug <scenario> <fuse>, where
  * scenario is upsert (the default), compact, overwrite or selective (a
  * change-feed delete that rewrites one statted file and keeps the rest).
  */
object CrashDebug {
  def main(args: Array[String]): Unit = {
    val scenario = args.headOption.getOrElse("upsert")
    val fuse = args.lift(1).map(_.toInt).getOrElse(26)
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = Files.createTempDirectory("graft_crashdbg").toString + "/t"
    val lake = LakeTable(spark, dir)
    lake.write(Seq((0L, "a"), (1L, "a"), (2L, "a")).toDF("id", "v").coalesce(1))
    if (scenario == "compact" || scenario == "overwrite" || scenario == "selective")
      (0 until 3).foreach { i =>
        lake.write(Seq((3L + i, "s")).toDF("id", "v").coalesce(1), SaveMode.Append): Unit
      }
    if (scenario == "selective") lake.collectStats(Seq("id")): Unit
    if (scenario == "overwrite") {
      lake.upsert(Seq((1L, "u")).toDF("id", "v"), Seq("id"), changeFeed = true): Unit
      lake.addConstraint("id_nonneg", "id >= 0"): Unit
    }

    def tree(label: String): Unit = {
      println(s"==== $label ====")
      val root = java.nio.file.Paths.get(dir).getParent
      val walk = Files.walk(root)
      try walk.forEach(p => println("  " + root.relativize(p))) finally walk.close()
    }

    val conf = spark.sessionState.newHadoopConf()
    LakeTable.fsDecoratorForTest = _ => {
      val raw = new GatedRawFs()
      raw.initialize(java.net.URI.create("file:///"), conf)
      val f = new org.apache.hadoop.fs.LocalFileSystem(raw)
      f.initialize(java.net.URI.create("file:///"), conf)
      f
    }
    FsFuse.arm(fuse)
    val err = try {
      scenario match {
        case "compact" => lake.compactSmall(1L << 30, 1L << 30): Unit
        case "overwrite" => lake.write(Seq((20L, "o"), (21L, "o")).toDF("id", "v")
          .coalesce(1), SaveMode.Overwrite): Unit
        case "selective" =>
          lake.delete(org.apache.spark.sql.functions.col("id") === 1L, changeFeed = true): Unit
        case _ => lake.upsert(Seq((1L, "u"), (5L, "n")).toDF("id", "v"),
          Seq("id"), changeFeed = true): Unit
      }
      None
    } catch { case t: Throwable => Some(t) }
    println(s"fired=${FsFuse.fired} err=${err.map(e => e.getClass.getName + ": " + e.getMessage)}")
    FsFuse.disarm()
    LakeTable.fsDecoratorForTest = identity(_)
    tree("after crash")
    val fresh = LakeTable(spark, dir)
    fresh.vacuumDebris(): Unit
    tree("after vacuum")
    println("rows: " + fresh.read.collect().map(_.toString).sorted.mkString(", "))
    println("history: " + fresh.history.select("version", "operation")
      .collect().map(_.toString).mkString(", "))
    println("constraints: " + fresh.constraints)
    spark.stop()
  }
}
