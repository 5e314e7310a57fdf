package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

class LakeTableSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_laketest").resolve("t").toString

  test("write/read round-trip preserves content") {
    val c = Tables(spark, sf0001).customer
    val lake = LakeTable(spark, tmp()).write(c)
    assert(lake.read.count() === c.count())
    assert(
      lake.read.agg(round(sum("c_acctbal"), 2)).head.getDouble(0) ===
        c.agg(round(sum("c_acctbal"), 2)).head.getDouble(0))
  }

  test("append mode adds rows and a commit") {
    val n = Tables(spark, sf0001).nation
    val lake = LakeTable(spark, tmp()).write(n)
    lake.write(n, SaveMode.Append)
    assert(lake.read.count() === 2 * n.count())
    val hist = lake.history.collect()
    assert(hist.length === 2)
  }

  test("optimize preserves content, compacts files, and logs the commit") {
    val li = Tables(spark, sf0001).lineitem
    val lake = LakeTable(spark, tmp()).write(li)
    val before = lake.read.count()
    lake.optimize(Seq("l_shipdate", "l_partkey"), numFiles = Some(2))
    assert(lake.read.count() === before)
    val files = new java.io.File(lake.path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 2, files.map(_.getName).toSeq)
    val ops = lake.history.select("operation").collect().map(_.getString(0))
    assert(ops.contains("OPTIMIZE"))
  }

  test("clustering tightens per-file ranges (data skipping works)") {
    val li = Tables(spark, sf0001).lineitem
    val lake = LakeTable(spark, tmp()).write(li)
    lake.optimize(Seq("l_partkey"), numFiles = Some(4))
    // after range-clustering by l_partkey, each file holds a disjoint key
    // range -> a point predicate should prune to ~1 file. Check via the
    // min/max of each file.
    val files = new java.io.File(lake.path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("l_partkey"), max("l_partkey")).head
      (r.getLong(0), r.getLong(1))
    }
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlap: $sorted")
      case _ =>
    }
  }

  test("relational prune (above driver threshold) returns the same survivors") {
    val li = Tables(spark, sf0001).lineitem
    val lake = LakeTable(spark, tmp()).write(li)
    lake.optimize(Seq("l_partkey"), numFiles = Some(8))
    lake.collectStats(Seq("l_partkey"))
    val cond = col("l_partkey") === 7L
    val driverFiles = lake.prunedFiles(cond).toSet
    assert(driverFiles.size < 8, "point predicate on the cluster key must prune")
    val expected = lake.read.where(cond).count()
    // threshold 0 forces the join-based path on the same table
    spark.conf.set(LakeTable.PruneDriverThresholdKey, "0")
    try {
      assert(lake.prunedFiles(cond).toSet === driverFiles)
      assert(lake.readWhere(cond).count() === expected)
      // a file appended after collectStats has no stats row — both
      // strategies must keep it (missing join partner = keep)
      lake.write(li.where(col("l_partkey") === 7L).limit(5), SaveMode.Append)
      assert(lake.readWhere(cond).count() === expected + 5)
      assert(lake.prunedFiles(cond).size === driverFiles.size + 1)
    } finally spark.conf.unset(LakeTable.PruneDriverThresholdKey)
  }

  test("history survives an overwrite (Delta-like)") {
    val n = Tables(spark, sf0001).nation
    val lake = LakeTable(spark, tmp()).write(n)
    lake.write(n) // second overwrite must not reset the log
    val versions = lake.history.select("version").collect().map(_.getLong(0)).sorted
    assert(versions.toSeq === Seq(0L, 1L))
  }

  test("point predicate on the cluster key is evaluated inside the parquet reader (A7)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val li = Tables(spark, sf0001).lineitem
    val lake = LakeTable(spark, tmp()).write(li)
    lake.optimize(Seq("l_partkey"), numFiles = Some(8))
    val q = lake.read.where(col("l_partkey") === 7L)
    val matching = q.count()
    q.collect()
    // parquet pushdown prunes at row-group/page granularity: the scan
    // emits only the surviving pages' rows (a Spark Filter finishes the
    // job). After clustering, most row groups exclude the key entirely,
    // so the scan output must be a small fraction of the table — that IS
    // the ZORDER-substitute skipping effect, measured.
    val total = li.count()
    val scanOutput = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
    assert(scanOutput >= matching, "scan cannot emit fewer rows than match")
    assert(scanOutput < total / 4,
      s"scan emitted $scanOutput of $total rows — row-group skipping not effective")
  }

  test("z-order interleave: bit positions and scaling") {
    import graft.sources.ZOrder
    import spark.implicits._
    // interleave(a=0b11, b=0b01, 2 bits) = a0<<0 | b0<<1 | a1<<2 | b1<<3
    //                                    = 1 | 2 | 4 | 0 = 7
    val z = Seq((3L, 1L)).toDF("a", "b")
      .select(ZOrder.interleave(Seq(col("a"), col("b")), 2)).head.getLong(0)
    assert(z === 7L)
    // scaling maps min -> 0, max -> full rank; z is monotone in each dim
    val df = Seq((0L, 0L), (100L, 0L), (0L, 100L), (100L, 100L)).toDF("x", "y")
    val zs = ZOrder.withZValue(df, Seq("x", "y"), bits = 4)
      .orderBy("x", "y").select("__z").collect().map(_.getLong(0))
    assert(zs(0) === 0L) // (min,min)
    assert(zs(3) === ((1L << 8) - 1), s"(max,max) must set all 8 bits: ${zs.toSeq}") // 4 bits x 2
  }

  test("z-order clusters BOTH dimensions: secondary-dim filter skips row groups") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val li = Tables(spark, sf001).lineitem
    def scanOutputForSuppkeyBand(optimizeHow: LakeTable => Unit): (Long, Long) = {
      val lake = LakeTable(spark, tmp()).write(li)
      optimizeHow(lake)
      val q = lake.read.where(col("l_suppkey") < 10)
      val matching = q.count()
      q.collect()
      val emitted = q.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
      (emitted, matching)
    }
    // linear clustering leads with l_partkey: a filter on the SECOND
    // column finds matching rows spread over every file -> no skipping
    val (linear, m1) = scanOutputForSuppkeyBand(
      _.optimize(Seq("l_partkey", "l_suppkey"), numFiles = Some(16)))
    // morton clustering tiles 2D: the same filter touches only the tiles
    // intersecting the suppkey band
    val (morton, m2) = scanOutputForSuppkeyBand(
      _.optimizeZorder(Seq("l_partkey", "l_suppkey"), numFiles = Some(16)))
    assert(m1 === m2, "same data, same predicate")
    assert(morton < linear / 2,
      s"z-order should at least halve the secondary-dim scan: morton=$morton linear=$linear")
  }

  test("z-order accepts STRING dimensions: prefix rank is order-preserving") {
    import graft.sources.ZOrder
    val s = spark
    import s.implicits._
    // binary-collation order must survive the prefix mapping, including
    // the prefix-of-a-longer-string case ("ab" < "b") and the empty string
    val words = Seq("", "a", "ab", "abc", "abcdefXX", "abcdefYY", "b", "zz")
    val df = words.zipWithIndex.map { case (w, i) => (w, i.toLong) }.toDF("w", "i")
    val ranked = ZOrder.withZValue(df, Seq("w"), bits = 16)
      .orderBy("w").select("__z").collect().map(_.getLong(0))
    assert(ranked.toSeq === ranked.sorted.toSeq,
      s"string prefix rank must be monotone in binary order: ${ranked.toSeq}")
    // beyond the 6-byte prefix the rank ties — same tile, still valid
    assert(ranked(4) === ranked(5))
    // and a mixed string+numeric zorder runs end-to-end on a lake table
    val li = Tables(spark, sf0001).lineitem
    val lake = LakeTable(spark, tmp()).write(li)
    lake.optimizeZorder(Seq("l_returnflag", "l_partkey"), numFiles = Some(4))
    assert(lake.read.count() === li.count())
  }

  test("history is empty for a fresh path") {
    assert(LakeTable(spark, tmp()).history.count() === 0)
  }

  test("partitioned write prunes directories at planning time (PartitionFilters)") {
    val o = Tables(spark, sf0001).orders
    val lake = LakeTable(spark, tmp()).writePartitioned(o, Seq("o_orderstatus"))
    // one directory per status value
    val dirs = new java.io.File(lake.path).listFiles()
      .filter(_.getName.startsWith("o_orderstatus=")).map(_.getName).sorted
    assert(dirs.length >= 2, dirs.toSeq)
    val q = lake.read.where(col("o_orderstatus") === "F")
    assert(q.count() === o.where(col("o_orderstatus") === "F").count())
    val plan = q.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*\\(o_orderstatus#\\d+ = F\\)".r
      .findFirstIn(plan).isDefined, plan)
    // pruning is planning-time: the scan reads ONLY the matching directory
    import org.apache.spark.sql.execution.FileSourceScanExec
    q.collect()
    val filesRead = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
    val filesF = new java.io.File(lake.path + "/o_orderstatus=F").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesRead === filesF, s"read $filesRead files, partition holds $filesF")
  }

  test("schema evolution: appended batch with a new column merges on read") {
    val s = spark
    import s.implicits._
    val path = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(path)
    Seq((3L, "c", 9.5)).toDF("id", "v", "score")
      .write.mode("append").parquet(path)
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.sorted.toSeq === Seq("id", "score", "v"))
    // old rows surface the evolved column as null
    assert(merged.where(col("score").isNull).count() === 2)
    assert(merged.where(col("score") === 9.5).select("id").head().getLong(0) === 3L)
  }

  test("upsert: matched rows replaced, unmatched inserted, rest untouched") {
    val s = spark
    import s.implicits._
    val path = tmp()
    val lake = LakeTable(spark, path)
      .write(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "v", "x"))
    lake.upsert(
      Seq((2L, "B2", 99.0), (9L, "new", 1.0)).toDF("id", "v", "x"), Seq("id"))
    val got = lake.read.collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got === Map(
      1L -> ("a", 10.0),   // untouched
      2L -> ("B2", 99.0),  // updated
      3L -> ("c", 30.0),   // untouched
      9L -> ("new", 1.0))) // inserted
    val ops = lake.history.select("operation").collect().map(_.getString(0))
    assert(ops.contains("MERGE") && ops.contains("WRITE OVERWRITE"))
  }

  test("upsert rejects duplicate merge keys instead of writing both rows") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, "a")).toDF("id", "v"))
    val ex = intercept[IllegalArgumentException] {
      lake.upsert(Seq((2L, "x"), (2L, "y")).toDF("id", "v"), Seq("id"))
    }
    assert(ex.getMessage.contains("duplicate merge keys"))
    assert(lake.read.count() === 1) // table untouched
  }

  test("append rejects type drift; mergeSchema=true evolves with a new nullable column") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // drift: id arrives as DOUBLE, table says bigint — lossy in both
    // directions, rejected with or without mergeSchema. (An INT id is no
    // longer drift: narrower incoming values up-cast silently, Delta's
    // implicit safe cast — TypeWideningSpec pins that side.)
    val drift = intercept[IllegalArgumentException] {
      lake.write(Seq((3.5, "c")).toDF("id", "v"), SaveMode.Append)
    }
    assert(drift.getMessage.contains("type drift"))
    // the narrow side: an int id up-casts and lands
    lake.write(Seq((9, "i")).toDF("id", "v"), SaveMode.Append)
    assert(lake.read.where(col("id") === 9L).count() === 1)
    // new column without opt-in is rejected
    val extra = intercept[IllegalArgumentException] {
      lake.write(Seq((3L, "c", 1.5)).toDF("id", "v", "score"), SaveMode.Append)
    }
    assert(extra.getMessage.contains("mergeSchema"))
    // opt-in evolves: old rows read the new column as null
    lake.write(Seq((3L, "c", 1.5)).toDF("id", "v", "score"),
      SaveMode.Append, mergeSchema = true)
    val out = lake.read
    assert(out.columns.toSeq === Seq("id", "v", "score"))
    assert(out.where(col("score").isNull).count() === 3)
    assert(out.count() === 4)
  }

  test("SaveMode.Ignore on an existing table touches neither data nor schema nor log") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, "a")).toDF("id", "v"))
    val histBefore = lake.history.count()
    // an Ignore write with a DIFFERENT schema must be a full no-op —
    // previously it silently replaced the authoritative stored schema
    lake.write(Seq((9.9, true)).toDF("x", "y"), SaveMode.Ignore)
    assert(lake.read.columns.toSeq === Seq("id", "v"))
    assert(lake.read.count() === 1)
    assert(lake.history.count() === histBefore)
  }

  test("overwrite with a changed schema requires overwriteSchema=true (Delta default)") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, "a")).toDF("id", "v"))
    val ex = intercept[IllegalArgumentException] {
      lake.write(Seq((1L, 2.0)).toDF("id", "score"))
    }
    assert(ex.getMessage.contains("overwriteSchema"))
    // same shape (modulo order/nullability) overwrites freely
    lake.write(Seq(("z", 7L)).toDF("v", "id"))
    assert(lake.read.count() === 1)
    // explicit opt-in replaces the schema
    lake.write(Seq((1L, 2.0)).toDF("id", "score"), overwriteSchema = true)
    assert(lake.read.columns.toSeq === Seq("id", "score"))
  }

  test("append widens stored nullability instead of lying about non-null columns") {
    val s = spark
    import s.implicits._
    val path = tmp()
    // seed a table whose stored schema says v is non-nullable
    val strict = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, "a")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType, nullable = false))))
    val lake = LakeTable(spark, path).write(strict)
    // append rows where v may be (and is) null
    lake.write(Seq((2L, Option.empty[String])).toDF("id", "v"), SaveMode.Append)
    val schema = lake.read.schema
    assert(schema("v").nullable, "stored schema must widen to nullable")
    assert(lake.read.where(col("v").isNull).count() === 1)
  }

  test("upsert keeps the table's column types when updates arrive wider") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1, 10.0f), (2, 20.0f)).toDF("id", "x")) // int, float
    // updates come in as bigint/double — union coercion would widen the
    // table; the cast-to-target keeps the stored schema authoritative
    lake.upsert(Seq((2L, 99.0), (3L, 5.0)).toDF("id", "x"), Seq("id"))
    val schema = lake.read.schema
    assert(schema("id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(schema("x").dataType === org.apache.spark.sql.types.FloatType)
    val got = lake.read.collect().map(r => r.getInt(0) -> r.getFloat(1)).toMap
    assert(got === Map(1 -> 10.0f, 2 -> 99.0f, 3 -> 5.0f))
  }

  test("schema alignment resolves under spark.sql.caseSensitive=true") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, "a")).toDF("Id", "V"))
    val prev = spark.conf.getOption("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try lake.write(Seq((2L, "b")).toDF("id", "v"), SaveMode.Append)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.caseSensitive", v)
      case None    => spark.conf.unset("spark.sql.caseSensitive")
    }
    // table-cased names win; both rows present
    assert(lake.read.columns.toSeq === Seq("Id", "V"))
    assert(lake.read.count() === 2)
  }

  test("compact sizes output files from on-disk bytes and preserves content") {
    val c = Tables(spark, sf0001).customer
    val lake = LakeTable(spark, tmp()).write(c.repartition(40)) // small-files mess
    def files() = new java.io.File(lake.path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val before = files()
    assert(before.length === 40)
    val bytes = before.map(_.length).sum
    val target = bytes / 4 // expect ceil(4ish) output files
    val sum0 = lake.read.agg(round(sum("c_acctbal"), 2)).head.getDouble(0)
    lake.compact(targetFileBytes = target)
    val after = files()
    val expected = math.ceil(bytes.toDouble / target).toInt
    assert(after.length === expected, s"got ${after.length}, want $expected")
    assert(lake.read.count() === c.count())
    assert(lake.read.agg(round(sum("c_acctbal"), 2)).head.getDouble(0) === sum0)
    val ops = lake.history.select("operation").collect().map(_.getString(0))
    assert(ops.contains("COMPACT"))
  }

  test("conditional merge: first matching clause wins across delete/update/keep/insert") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("id", "v", "x"))
    val source = Seq(
      (1L, "A", 100.0), // x>50 -> DELETE
      (2L, "B", 45.0),  // x>40 -> UPDATE v only (clause 2)
      (3L, "C", 5.0),   // matches no clause -> kept unchanged
      (9L, "Z", 1.0),   // unmatched -> INSERT (passes insertCond)
      (8L, "Y", -1.0)   // unmatched but insertCond fails -> dropped
    ).toDF("id", "v", "x")
    lake.merge(source, Seq("id"),
      whenMatched = Seq(
        MergeClause.DeleteWhen(Some(col("s.x") > 50)),
        MergeClause.UpdateWhen(Map("v" -> col("s.v")), Some(col("s.x") > 40))),
      insertCond = Some(col("x") > 0))
    val got = lake.read.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got === Map(
      2L -> ("B", 20.0), // updated v, x untouched (not in SET)
      3L -> ("c", 30.0), // matched, no clause fired
      4L -> ("d", 40.0), // untouched
      9L -> ("Z", 1.0))) // inserted; 1 deleted, 8 gated out
    // guard rails
    intercept[IllegalArgumentException] {
      lake.merge(Seq((2L, "x", 0.0)).toDF("id", "v", "x"), Seq("id"),
        Seq(MergeClause.UpdateWhen(Map("nope" -> lit(1)))))
    }
    intercept[IllegalArgumentException] {
      lake.merge(Seq((2L, "x", 0.0)).toDF("id", "v", "x"), Seq("id"),
        Seq(MergeClause.UpdateWhen(Map("id" -> lit(1L)))))
    }
  }

  test("merge NOT MATCHED BY SOURCE arms act on target-only rows, with change feed") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("id", "v", "x"))
    val source = Seq((1L, "A", 100.0), (9L, "Z", 1.0)).toDF("id", "v", "x")
    lake.merge(source, Seq("id"),
      whenMatched = Seq(MergeClause.UpdateWhen(Map("v" -> col("s.v")))),
      insertUnmatched = true,
      changeFeed = true,
      whenNotMatchedBySource = Seq(
        MergeClause.DeleteWhen(Some(col("t.x") >= 40)),
        MergeClause.UpdateWhen(Map("v" -> concat(col("t.v"), lit("!"))))))
    val got = lake.read.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(got === Map(
      1L -> ("A", 10.0),  // matched update
      2L -> ("b!", 20.0), // by-source update (second clause)
      3L -> ("c!", 30.0), // by-source update
      9L -> ("Z", 1.0)))  // inserted; 4 deleted by the first by-source clause
    // change feed records the by-source actions under this commit
    val changes = lake.readChanges()
    val byType = changes.groupBy(col("_change_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("delete") === 1L)   // id 4
    assert(byType("insert") === 1L)   // id 9
    assert(byType("update_preimage") === 3L)  // ids 1, 2, 3
    assert(byType("update_postimage") === 3L)
  }

  test("merge schema evolution widens the target; default still rejects drift") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val source = Seq((2L, "B", 7L), (3L, "C", 9L)).toDF("id", "v", "score")
    // default: SET targeting a source-only column stays an error
    intercept[IllegalArgumentException] {
      lake.merge(source, Seq("id"),
        Seq(MergeClause.UpdateWhen(Map("score" -> col("s.score")))))
    }
    lake.merge(source, Seq("id"),
      Seq(MergeClause.UpdateWhen(Map("v" -> col("s.v"), "score" -> col("s.score")))),
      schemaEvolution = true)
    val got = lake.read.collect().map(r =>
      r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got === Map(
      1L -> ("a", None),     // untouched row: new column null-filled
      2L -> ("B", Some(7L)), // matched update writes the new column
      3L -> ("C", Some(9L)))) // insert carries it
    // the widened schema persists (stored schema followed the rewrite)
    assert(lake.read.schema.fieldNames.toSeq === Seq("id", "v", "score"))
    // whole-row upsert evolves the same way
    lake.upsert(Seq((4L, "d", 1L, true)).toDF("id", "v", "score", "flag"),
      Seq("id"), schemaEvolution = true)
    val r4 = lake.read.where(col("id") === 4L).collect().head
    assert(r4.getBoolean(3) === true)
    assert(lake.read.where(col("id") === 1L).collect().head.isNullAt(3))
  }

  test("CHECK constraints gate writes, appends, merges; nulls violate; history survives overwrite") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
      .addConstraint("x_positive", "x > 0")
    // adding a constraint the data already violates is rejected
    val exAdd = intercept[IllegalArgumentException](lake.addConstraint("impossible", "x > 15"))
    assert(exAdd.getMessage.contains("impossible"))
    // violating append rejected, table untouched
    val exApp = intercept[IllegalArgumentException] {
      lake.write(Seq((3L, -1.0)).toDF("id", "x"), SaveMode.Append)
    }
    assert(exApp.getMessage.contains("x_positive"))
    assert(lake.read.count() === 2)
    // NULL does not satisfy a CHECK
    intercept[IllegalArgumentException] {
      lake.write(Seq((4L, Option.empty[Double])).toDF("id", "x"), SaveMode.Append)
    }
    // violating merge aborts on the staged files, before the swap
    intercept[IllegalArgumentException] {
      lake.upsert(Seq((2L, -5.0)).toDF("id", "x"), Seq("id"))
    }
    assert(lake.read.where(col("id") === 2).head.getDouble(1) === 20.0)
    // valid writes proceed; constraint survives a full overwrite
    lake.write(Seq((9L, 1.0)).toDF("id", "x"))
    assert(lake.constraints.keySet === Set("x_positive"))
    intercept[IllegalArgumentException] {
      lake.write(Seq((10L, -2.0)).toDF("id", "x"), SaveMode.Append)
    }
    // dropped constraint stops gating
    lake.dropConstraint("x_positive")
    lake.write(Seq((10L, -2.0)).toDF("id", "x"), SaveMode.Append)
    assert(lake.read.count() === 2)
    val ops = lake.history.select("operation").collect().map(_.getString(0))
    assert(ops.contains("ADD CONSTRAINT") && ops.contains("DROP CONSTRAINT"))
  }

  test("an overwrite validates constraints on its staged files, an empty partitioned batch included") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .writePartitioned(Seq((1L, "a", 10.0)).toDF("id", "p", "x"), Seq("p"))
      .addConstraint("x_positive", "x > 0")
    val e = intercept[IllegalArgumentException] {
      lake.writePartitioned(Seq((2L, "b", -1.0)).toDF("id", "p", "x"), Seq("p"))
    }
    assert(e.getMessage.contains("x_positive"))
    assert(lake.read.select("id", "p", "x").as[(Long, String, Double)].collect().toSeq ===
      Seq((1L, "a", 10.0)))
    // an empty partitioned batch (SQL TRUNCATE) stages no parquet file
    lake.writePartitioned(Seq.empty[(Long, String, Double)].toDF("id", "p", "x"), Seq("p"))
    assert(lake.read.count() === 0)
    assert(lake.constraints.keySet === Set("x_positive"))
  }

  test("appendExpecting quarantines per-constraint instead of failing the batch") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("id", "x", "tag"))
      .addConstraint("x_positive", "x > 0")
      .addConstraint("tag_known", "tag IN ('a', 'b')")
    val report = lake.appendExpecting(Seq(
      (3L, 5.0, "a"), // clean
      (4L, -1.0, "a"), // violates x_positive
      (5L, 7.0, "z"), // violates tag_known
      (6L, -2.0, "q") // violates BOTH -> counted in each
    ).toDF("id", "x", "tag"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report === Map("x_positive" -> 2L, "tag_known" -> 2L))
    // only the clean row landed; the quarantine is invisible to reads
    assert(lake.read.count() === 3)
    assert(lake.read.where(col("id") >= 4L).count() === 0)
    // the quarantine sibling holds the three bad rows with their labels
    val q = lake.quarantine
    val bad = q.read.collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(bad === Map(
      4L -> "x_positive", 5L -> "tag_known", 6L -> "tag_known,x_positive"))
    // a fully-clean expectations batch writes nothing to the quarantine
    val clean = lake.appendExpecting(Seq((7L, 1.0, "b")).toDF("id", "x", "tag"))
      .collect().map(_.getLong(1)).sum
    assert(clean === 0L && lake.read.count() === 4 && q.read.count() === 3)
    // the audit trail SURVIVES staged swaps: a DELETE and a full
    // OPTIMIZE both replace the table dir wholesale — the quarantine
    // sibling lives outside it, so neither touches the quarantined rows
    lake.delete(col("id") === 7L)
    lake.compact()
    assert(lake.read.count() === 3)
    assert(lake.quarantine.read.count() === 3)
  }

  test("appendExpecting commits the quarantine BEFORE the tagged clean append") {
    val s = spark
    import s.implicits._
    // streaming replay-skip keys on the clean commit's (appId, batchId)
    // tag, so the quarantine must land first: a crash between the two
    // then leaves the tag uncommitted and the replay re-quarantines
    // (at-least-once audit) instead of skipping the batch whole and
    // losing its violations forever. Pin the order by making the CLEAN
    // append fail (schema drift: an extra column on append without
    // mergeSchema) — the violations must already be in the quarantine,
    // and the tag must NOT be committed.
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, 10.0)).toDF("id", "x"))
      .addConstraint("x_positive", "x > 0")
    intercept[Exception] {
      lake.appendExpecting(
        Seq((2L, 5.0, "boom"), (3L, -1.0, "boom")).toDF("id", "x", "extra"),
        extraParams = Map("streamTxn:order-pin" -> "7"))
    }
    assert(lake.quarantine.read.select("id").as[Long].collect().toSeq === Seq(3L),
      "violations must be quarantined before the clean append can fail")
    assert(lake.maxCommitParamLong("streamTxn:order-pin") === -1L,
      "the replay-skip tag must not be committed when the clean leg failed")
    assert(lake.read.count() === 1)
  }

  test("an aborted change-feed merge leaves no phantom change set behind") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, 10.0)).toDF("id", "x"))
      .addConstraint("x_positive", "x > 0")
    // the feed is materialized before the swap; the constraint check on
    // the staged files then aborts the merge — the recorded changes for
    // the never-committed version must be rolled back too
    intercept[IllegalArgumentException] {
      lake.upsert(Seq((1L, -1.0)).toDF("id", "x"), Seq("id"), changeFeed = true)
    }
    assert(lake.read.head.getDouble(1) === 10.0)
    intercept[IllegalArgumentException](lake.readChanges())
    // and a later SUCCESSFUL feed commit starts clean
    lake.upsert(Seq((1L, 11.0)).toDF("id", "x"), Seq("id"), changeFeed = true)
    assert(lake.readChanges().count() === 2) // pre + post
  }

  test("change data feed: merge records pre/post images, deletes, inserts; survives overwrite") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x"))
    lake.merge(
      Seq((1L, 99.0), (2L, 0.0), (9L, 1.0)).toDF("id", "x"), Seq("id"),
      whenMatched = Seq(
        MergeClause.DeleteWhen(Some(col("s.x") === 0.0)),
        MergeClause.UpdateWhen(Map("x" -> col("s.x")))),
      changeFeed = true)
    val changes = lake.readChanges()
      .collect()
      .map(r => (r.getString(2), r.getLong(0), r.getDouble(1))).toSet
    assert(changes === Set(
      ("update_preimage", 1L, 10.0),
      ("update_postimage", 1L, 99.0),
      ("delete", 2L, 20.0),
      ("insert", 9L, 1.0)))
    val commitV = lake.readChanges().select("_commit_version").head.getLong(0)
    // whole-row upsert with the feed on routes through merge
    lake.upsert(Seq((3L, 33.0)).toDF("id", "x"), Seq("id"), changeFeed = true)
    val v2 = lake.readChanges(fromVersion = commitV + 1)
      .select("_change_type", "id", "x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(v2 === Set(("update_preimage", 3L, 30.0), ("update_postimage", 3L, 33.0)))
    // an overwrite must not erase recorded change history
    lake.write(Seq((7L, 7.0)).toDF("id", "x"))
    assert(lake.readChanges(toVersion = commitV).count() === 4)
    // no feed recorded in a range -> clear error
    intercept[IllegalArgumentException](lake.readChanges(fromVersion = 999))
  }

  test("vacuumDebris removes an orphaned unmarked staged rewrite and keeps the feed") {
    val s = spark
    import s.implicits._
    val path = tmp()
    val lake = LakeTable(spark, path).write(Seq((1L, 1.0)).toDF("id", "x"))
    lake.upsert(Seq((1L, 2.0)).toDF("id", "x"), Seq("id"), changeFeed = true)
    val recorded = lake.readChanges().count()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash debris: a staged table copy that never reached its mark
    val staged = new org.apache.hadoop.fs.Path(s"$path${LakeTable.StageSuffix}")
    fs.mkdirs(staged)
    lake.vacuumDebris()
    assert(!fs.exists(staged))
    assert(lake.readChanges().count() === recorded)
    assert(lake.history.select("operation").collect()
      .map(_.getString(0)).contains("VACUUM DEBRIS"))
  }

  test("replaceWhere atomically swaps the predicate region and is idempotent") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0)).toDF("id", "seg", "v"))
    val batch = Seq((1L, "a", 11.0), (9L, "a", 99.0)).toDF("id", "seg", "v")
    lake.replaceWhere(batch, col("seg") === "a")
    def state() = lake.read.orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(state() === Seq((1L, "a", 11.0), (2L, "b", 20.0), (9L, "a", 99.0)))
    // re-delivering the same batch converges (the backfill contract)
    lake.replaceWhere(batch, col("seg") === "a")
    assert(state() === Seq((1L, "a", 11.0), (2L, "b", 20.0), (9L, "a", 99.0)))
    // a batch leaking outside the region is rejected, table untouched
    val e = intercept[IllegalArgumentException] {
      lake.replaceWhere(Seq((7L, "b", 7.0)).toDF("id", "seg", "v"), col("seg") === "a")
    }
    assert(e.getMessage.contains("do not satisfy"), e.getMessage)
    assert(state() === Seq((1L, "a", 11.0), (2L, "b", 20.0), (9L, "a", 99.0)))
    // the SQL spelling routes to the same path
    spark.sql(s"INSERT INTO graft_lake('${lake.path}') REPLACE WHERE seg = 'b' " +
      "VALUES (2, 'b', 21.0), (12, 'b', 22.0)")
    assert(state() ===
      Seq((1L, "a", 11.0), (2L, "b", 21.0), (9L, "a", 99.0), (12L, "b", 22.0)))
    // history records the predicate-scoped commit
    assert(lake.history.where(col("operation") === "REPLACE WHERE").count() === 3)
    // with the feed on, the replaced region leaves as deletes and the
    // batch arrives as inserts — change-feed consumers stay consistent
    lake.replaceWhere(Seq((9L, "a", 100.0)).toDF("id", "seg", "v"),
      col("seg") === "a", changeFeed = true)
    val v = lake.history.agg(max(col("version"))).head.getLong(0)
    val ch = lake.readChanges(fromVersion = v, toVersion = v)
      .select("_change_type", "id").as[(String, Long)].collect().toSeq.sorted
    assert(ch === Seq(("delete", 1L), ("delete", 9L), ("insert", 9L)))
    assert(state() ===
      Seq((2L, "b", 21.0), (9L, "a", 100.0), (12L, "b", 22.0)))
  }

  test("delete removes only TRUE-predicate rows (null keeps, SQL semantics) and feeds CDC") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, Some(5.0)), (2L, None), (3L, Some(1.0))).toDF("id", "x"))
    lake.delete(col("x") > 2.0, changeFeed = true)
    // row 2 has x = null -> predicate NULL -> KEPT, like Delta/SQL DELETE
    assert(lake.read.select("id").collect().map(_.getLong(0)).toSet === Set(2L, 3L))
    val changes = lake.readChanges()
      .select("_change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(changes === Set(("delete", 1L)))
    val ops = lake.history.select("operation").collect().map(_.getString(0))
    assert(ops.contains("DELETE"))
  }

  test("update evaluates SET against the pre-update row, casts to table types, feeds CDC") {
    val s = spark
    import s.implicits._
    val lake = LakeTable(spark, tmp())
      .write(Seq((1L, 10.0, 100.0), (2L, 20.0, 200.0)).toDF("id", "a", "b"))
    // swap semantics: both SET expressions see the ORIGINAL row
    lake.update(Map("a" -> col("b"), "b" -> col("a")), col("id") === 1L,
      changeFeed = true)
    val rows = lake.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.toSeq === Seq((1L, 100.0, 10.0), (2L, 20.0, 200.0)))
    val changes = lake.readChanges()
      .select("_change_type", "id", "a", "b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(changes === Set(
      ("update_preimage", 1L, 10.0, 100.0),
      ("update_postimage", 1L, 100.0, 10.0)))
    // an int-typed SET expression lands as the column's double type
    lake.update(Map("a" -> lit(7)), col("id") === 2L)
    assert(lake.read.schema("a").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(lake.read.where(col("id") === 2L).head.getDouble(1) === 7.0)
    // unknown SET column rejects before touching the table
    intercept[IllegalArgumentException](
      lake.update(Map("nope" -> lit(1)), lit(true)))
  }

  test("upsert, delete, update and merge keep a Hive-partitioned layout") {
    val s = spark
    import s.implicits._
    val path = tmp()
    val lake = LakeTable(spark, path).writePartitioned(
      Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "b", 4.0))
        .toDF("id", "p", "x").coalesce(1), Seq("p"))
    def rows: Seq[(Long, String, Double)] =
      lake.read.select("id", "p", "x").as[(Long, String, Double)].collect().sorted.toSeq
    def layoutKept(): Unit = {
      assert(lake.partitionColumns() === Seq("p"))
      assert(!new java.io.File(path).listFiles().exists(_.getName.endsWith(".parquet")),
        "data files landed beside the partition dirs")
    }
    lake.upsert(Seq((2L, "a", 20.0), (5L, "b", 5.0)).toDF("id", "p", "x"), Seq("id"))
    layoutKept()
    lake.delete(col("id") === 1L)
    layoutKept()
    lake.update(Map("x" -> (col("x") + 100.0)), col("p") === "b", changeFeed = true)
    layoutKept()
    lake.merge(Seq((3L, "b", 0.0), (6L, "a", 6.0)).toDF("id", "p", "x"), Seq("id"),
      Seq(MergeClause.DeleteWhen()))
    layoutKept()
    assert(rows === Seq((2L, "a", 20.0), (4L, "b", 104.0), (5L, "b", 105.0), (6L, "a", 6.0)))
    assert(lake.readChanges().where(col("_change_type") === "update_postimage")
      .select("id").as[Long].collect().sorted.toSeq === Seq(3L, 4L, 5L))
  }

  test("dynamic partition overwrite replaces only the touched partition") {
    val o = Tables(spark, sf0001).orders
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val lake = LakeTable(spark, tmp()).writePartitioned(o, Seq("o_orderstatus"))
    val beforeOther = lake.read.where(col("o_orderstatus") =!= "F").count()
    // rewrite partition F with a single sentinel row
    val sentinel = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(-1L, 0.0, "F")),
      o.schema)
    lake.overwritePartitions(sentinel, Seq("o_orderstatus"))
    assert(lake.read.where(col("o_orderstatus") === "F").count() === 1)
    assert(lake.read.where(col("o_orderstatus") =!= "F").count() === beforeOther)
    // log survived (dynamic overwrite never deletes the table dir)
    val ops = lake.history.select("operation").collect().map(_.getString(0))
    assert(ops.contains("WRITE PARTITIONED") && ops.contains("OVERWRITE PARTITIONS"))
  }
}
