package graft.text

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.LakeTable

/** The standing-index freshness contract: indexes built from a versioned
  * lake base stamp the base version, refuse to serve once the base moved,
  * and fold the base's change feed in incrementally (deletes cascade,
  * updates swap images, inserts append) — ending equal to a rebuild.
  */
class IndexFreshnessSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot = Files.createTempDirectory("graft_idxfresh").toString

  private val corpus = Seq(
    (1L, "apple banana apple cherry"),
    (2L, "banana banana banana"),
    (3L, "cherry apple"),
    (4L, "durian durian apple banana cherry durian")
  )

  private def hfs(path: String) =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def postingsFiles(dir: String): Set[String] = {
    val f = hfs(dir)
    val it = f.listFiles(new HPath(dir, "postings"), true)
    val out = scala.collection.mutable.Set.empty[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet") && !p.toUri.getPath.contains("/_"))
        out += p.getName
    }
    out.toSet
  }

  private def served(dir: String, terms: (Long, String)*): Set[(Long, Long, Long, Double)] =
    InvertedIndex.serveBm25(spark, dir, terms.toDF("query_id", "term"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

  test("BM25: stale serve throws; applyChanges cascades a DELETE incrementally") {
    val root = freshRoot
    val base = LakeTable(spark, s"$root/docs").write(corpus.toDF("doc_id", "text"))
    val dir = s"$root/idx"
    InvertedIndex.build(base, "doc_id", "text", dir)
    assert(served(dir, 10L -> "banana").nonEmpty) // fresh: serves fine

    base.delete(col("doc_id") === 2L, changeFeed = true)
    val e = intercept[IllegalStateException] { served(dir, 10L -> "banana") }
    assert(e.getMessage.contains("STALE"), e.getMessage)

    val before = postingsFiles(dir)
    InvertedIndex.applyChanges(base, "doc_id", "text", dir)
    val after = postingsFiles(dir)
    // incremental, not a rebuild: files holding untouched terms survive
    assert(before.intersect(after).nonEmpty,
      s"applyChanges rewrote every postings file: $before -> $after")

    // the deleted doc is gone and everything matches a fresh rebuild
    val rebuilt = s"$root/idx2"
    InvertedIndex.build(base, "doc_id", "text", rebuilt)
    val queries = Seq(10L -> "banana", 10L -> "apple", 20L -> "durian", 20L -> "cherry")
    assert(!served(dir, queries: _*).exists(_._3 == 2L), "ghost hit for deleted doc")
    assert(served(dir, queries: _*) === served(rebuilt, queries: _*))
    // vocabulary and scalars converged too (banana df 3 -> 2)
    def termsOf(d: String) = LakeTable(spark, s"$d/terms").read
      .orderBy("term").as[(String, Long)].collect().toSeq
    assert(termsOf(dir) === termsOf(rebuilt))
    // select the scalars by name: the stats row also carries the upsert
    // key and the in-row fold watermark (maintenance-crash exactness)
    val Seq((n1, a1)) = LakeTable(spark, s"$dir/stats").read
      .select("n_docs", "avgdl").as[(Double, Double)].collect().toSeq
    val Seq((n2, a2)) = LakeTable(spark, s"$rebuilt/stats").read
      .select("n_docs", "avgdl").as[(Double, Double)].collect().toSeq
    assert(n1 === n2)
    assert(math.abs(a1 - a2) < 1e-9)
  }

  test("BM25: update swaps images, insert appends; intermediate images cancel") {
    val root = freshRoot
    val base = LakeTable(spark, s"$root/docs").write(corpus.toDF("doc_id", "text"))
    val dir = s"$root/idx"
    InvertedIndex.build(base, "doc_id", "text", dir)

    // one range holding an update of doc 3, an insert of doc 5, and a
    // second update of doc 5 (its first image must cancel out)
    base.upsert(Seq((3L, "elderberry fig")).toDF("doc_id", "text"),
      Seq("doc_id"), changeFeed = true)
    base.upsert(Seq((5L, "grape grape")).toDF("doc_id", "text"),
      Seq("doc_id"), changeFeed = true)
    base.upsert(Seq((5L, "honeydew apple")).toDF("doc_id", "text"),
      Seq("doc_id"), changeFeed = true)
    InvertedIndex.applyChanges(base, "doc_id", "text", dir)

    val rebuilt = s"$root/idx2"
    InvertedIndex.build(base, "doc_id", "text", rebuilt)
    val queries = Seq(1L -> "apple", 2L -> "elderberry", 3L -> "grape",
      4L -> "honeydew", 5L -> "cherry", 6L -> "banana")
    assert(served(dir, queries: _*) === served(rebuilt, queries: _*))
    // doc 3's old terms are out, doc 5 serves only its final image
    assert(!served(dir, 5L -> "cherry").exists(_._3 == 3L))
    assert(!served(dir, 3L -> "grape").exists(_._3 == 5L))
    assert(served(dir, 4L -> "honeydew").exists(_._3 == 5L))
    def termsOf(d: String) = LakeTable(spark, s"$d/terms").read
      .orderBy("term").as[(String, Long)].collect().toSeq
    assert(termsOf(dir) === termsOf(rebuilt))
  }

  test("BM25: fold adopts a legacy 2-column stats layout in place") {
    val root = freshRoot
    val base = LakeTable(spark, s"$root/docs").write(corpus.toDF("doc_id", "text"))
    val dir = s"$root/idx"
    InvertedIndex.build(base, "doc_id", "text", dir)
    // regress the stats table to the pre-watermark layout an old index
    // shipped: no upsert key, no folded_version — the adopt-in-place
    // branch must widen the column set (an Overwrite schema change),
    // which requires overwriteSchema=true or the first fold throws AFTER
    // postings and terms were already mutated
    val st = LakeTable(spark, s"$dir/stats")
    val Seq((nd, ad)) =
      st.read.select("n_docs", "avgdl").as[(Double, Double)].collect().toSeq
    st.write(Seq((nd, ad)).toDF("n_docs", "avgdl"), overwriteSchema = true)
    assert(st.read.columns.toSet === Set("n_docs", "avgdl"))

    base.delete(col("doc_id") === 2L, changeFeed = true)
    InvertedIndex.applyChanges(base, "doc_id", "text", dir) // must not throw
    // adopted: the modern 4-column layout, scalars equal to a rebuild
    val rebuilt = s"$root/idx2"
    InvertedIndex.build(base, "doc_id", "text", rebuilt)
    assert(st.read.columns.toSet ===
      Set("k", "n_docs", "avgdl", "folded_version"))
    val Seq((n1, a1)) = st.read
      .select("n_docs", "avgdl").as[(Double, Double)].collect().toSeq
    val Seq((n2, a2)) = LakeTable(spark, s"$rebuilt/stats").read
      .select("n_docs", "avgdl").as[(Double, Double)].collect().toSeq
    assert(n1 === n2)
    assert(math.abs(a1 - a2) < 1e-9)
    // and a SECOND fold over the adopted layout takes the upsert path
    base.upsert(Seq((7L, "kiwi kiwi banana")).toDF("doc_id", "text"),
      Seq("doc_id"), changeFeed = true)
    InvertedIndex.applyChanges(base, "doc_id", "text", dir)
    assert(served(dir, 1L -> "kiwi").exists(_._3 == 7L))
  }

  test("BM25: a feed-less mutation in the range fails applyChanges loudly") {
    val root = freshRoot
    val base = LakeTable(spark, s"$root/docs").write(corpus.toDF("doc_id", "text"))
    val dir = s"$root/idx"
    InvertedIndex.build(base, "doc_id", "text", dir)
    base.delete(col("doc_id") === 1L) // changeFeed = false: invisible
    val e = intercept[IllegalStateException] {
      InvertedIndex.applyChanges(base, "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("no change feed"), e.getMessage)
    // ... but a pure reorganization commit is fine to skip over
    val root2 = freshRoot
    val base2 = LakeTable(spark, s"$root2/docs").write(corpus.toDF("doc_id", "text"))
    val dir2 = s"$root2/idx"
    InvertedIndex.build(base2, "doc_id", "text", dir2)
    base2.compact()
    InvertedIndex.applyChanges(base2, "doc_id", "text", dir2) // no throw
    assert(served(dir2, 1L -> "banana").nonEmpty)
  }

  test("BM25: raw append works unstamped, refuses on a stamped index") {
    val root = freshRoot
    val dir = s"$root/idx"
    InvertedIndex.build(corpus.toDF("doc_id", "text"), "doc_id", "text", dir)
    InvertedIndex.append(Seq((5L, "grape apple grape")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val rebuilt = s"$root/idx2"
    InvertedIndex.build(
      (corpus :+ (5L, "grape apple grape")).toDF("doc_id", "text"),
      "doc_id", "text", rebuilt)
    val queries = Seq(1L -> "grape", 2L -> "apple", 3L -> "banana")
    assert(served(dir, queries: _*) === served(rebuilt, queries: _*))

    val base = LakeTable(spark, s"$root/docs").write(corpus.toDF("doc_id", "text"))
    val stamped = s"$root/idx3"
    InvertedIndex.build(base, "doc_id", "text", stamped)
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.append(Seq((9L, "kiwi")).toDF("doc_id", "text"),
        "doc_id", "text", stamped)
    }
    assert(e.getMessage.contains("applyChanges"), e.getMessage)
  }

  test("BM25: live maintenance stream keeps serves fresh; replayed batches converge") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot
    val base = LakeTable(spark, s"$root/docs").write(corpus.toDF("doc_id", "text"))
    val dir = s"$root/idx"
    InvertedIndex.build(base, "doc_id", "text", dir)
    // >= 1 recorded change set: the change-feed streaming source's
    // precondition (same as MaterializedJoin.startStream)
    base.delete(col("doc_id") === 2L, changeFeed = true)
    val q = InvertedIndex.startMaintenanceStream(base, "doc_id", "text", dir,
      trigger = Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      // the stream folded the delete: serve is FRESH (no stale throw)
      // and the deleted doc is gone
      assert(!served(dir, 10L -> "banana", 10L -> "apple").exists(_._3 == 2L))
      // mutate UNDER the live stream: the next trigger folds it in with
      // no orchestrator call
      base.upsert(Seq((5L, "grape banana")).toDF("doc_id", "text"),
        Seq("doc_id"), changeFeed = true)
      q.processAllAvailable()
      assert(served(dir, 1L -> "grape").exists(_._3 == 5L))
      val rebuilt = s"$root/idx2"
      InvertedIndex.build(base, "doc_id", "text", rebuilt)
      val queries = Seq(1L -> "apple", 2L -> "banana", 3L -> "grape", 4L -> "durian")
      assert(served(dir, queries: _*) === served(rebuilt, queries: _*))
    } finally q.stop()
    // replay: a FRESH checkpoint re-delivers every change batch from the
    // feed's start; the version stamp is the idempotence watermark, so
    // the replayed foldings no-op and the index stays equal to a rebuild
    val q2 = InvertedIndex.startMaintenanceStream(base, "doc_id", "text", dir)
    try q2.awaitTermination(120000) finally q2.stop()
    val rebuilt2 = s"$root/idx3"
    InvertedIndex.build(base, "doc_id", "text", rebuilt2)
    val queries = Seq(1L -> "apple", 2L -> "banana", 3L -> "grape", 4L -> "durian")
    assert(served(dir, queries: _*) === served(rebuilt2, queries: _*))
  }

  test("BM25: tombstone removals + stream auto-optimize materialize on cadence") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot
    val base = LakeTable(spark, s"$root/docs").write(corpus.toDF("doc_id", "text"))
    val dir = s"$root/idx"
    InvertedIndex.build(base, "doc_id", "text", dir)
    base.delete(col("doc_id") === 2L, changeFeed = true)
    // fold WITHOUT the stream first: a CDC-sized removal must take the
    // tombstone path (deletion vectors, zero postings files rewritten)
    val before = postingsFiles(dir)
    InvertedIndex.applyChanges(base, "doc_id", "text", dir)
    val p = LakeTable(spark, s"$dir/postings")
    assert(p.hasDeletionVectors, "CDC-sized removal must tombstone, not rewrite")
    assert(postingsFiles(dir).intersect(before) === before,
      "tombstone removal must rewrite no postings file")
    assert(!served(dir, 10L -> "banana").exists(_._3 == 2L), "ghost hit through DV")
    // now a live stream with autoOptimizeEvery=1: the next fold's cadence
    // OPTIMIZE materializes the tombstones and the index stays correct
    base.upsert(Seq((5L, "grape banana")).toDF("doc_id", "text"),
      Seq("doc_id"), changeFeed = true)
    val q = InvertedIndex.startMaintenanceStream(base, "doc_id", "text", dir,
      trigger = Trigger.ProcessingTime(0L), autoOptimizeEvery = Some(1))
    try q.processAllAvailable() finally q.stop()
    assert(!p.hasDeletionVectors, "cadence OPTIMIZE must materialize tombstones")
    val rebuilt = s"$root/idx2"
    InvertedIndex.build(base, "doc_id", "text", rebuilt)
    val queries = Seq(1L -> "apple", 2L -> "banana", 3L -> "grape", 4L -> "durian")
    assert(served(dir, queries: _*) === served(rebuilt, queries: _*))
  }

  test("IVF: live maintenance stream keeps vector serves fresh") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshRoot
    val vecs = (0 until 64).map { i =>
      val ang = i * 2.0 * math.Pi / 64
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat))
    }
    val base = LakeTable(spark, s"$root/vecs").write(vecs.toDF("id", "vec"))
    val dir = s"$root/idx"
    IvfIndex.build(base, "id", "vec", dir, nCells = 8, seed = 7L, sampleFraction = 1.0)
    base.delete(col("id") === 0L, changeFeed = true)
    val q = IvfIndex.startMaintenanceStream(base, "id", "vec", dir,
      trigger = Trigger.ProcessingTime(0L))
    val probe = Seq((1000L, Array(1.0f, 0.05f))).toDF("id", "vec")
    try {
      q.processAllAvailable()
      val got = IvfIndex.serveTopK(spark, dir, probe, "id", "vec", k = 5)
        .select("vec_id").as[Long].collect().toSet
      assert(!got.contains(0L), "ghost hit for deleted vector under live stream")
      // an insert lands through the same stream
      base.upsert(Seq((500L, Array(0.999f, 0.04f)))
        .toDF("id", "vec"), Seq("id"), changeFeed = true)
      q.processAllAvailable()
      val got2 = IvfIndex.serveTopK(spark, dir, probe, "id", "vec", k = 5)
        .select("vec_id").as[Long].collect().toSet
      assert(got2.contains(500L), s"new vector must serve immediately: $got2")
    } finally q.stop()
  }

  test("IVF: stale serve throws; delete cascades to the deleted ids' cells only") {
    val root = freshRoot
    val vecs = (0 until 64).map { i =>
      val ang = i * 2.0 * math.Pi / 64
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat))
    }
    val base = LakeTable(spark, s"$root/vecs").write(vecs.toDF("id", "vec"))
    val dir = s"$root/idx"
    IvfIndex.build(base, "id", "vec", dir, nCells = 8, seed = 7L, sampleFraction = 1.0)
    val q = Seq((1000L, Array(1.0f, 0.05f))).toDF("id", "vec")
    assert(IvfIndex.serveTopK(spark, dir, q, "id", "vec", k = 5).count() === 5)

    base.delete(col("id") === 0L, changeFeed = true)
    val e = intercept[IllegalStateException] {
      IvfIndex.serveTopK(spark, dir, q, "id", "vec", k = 5).collect()
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)

    val before = postingsFiles(dir)
    IvfIndex.applyChanges(base, "id", "vec", dir)
    val after = postingsFiles(dir)
    assert(before.intersect(after).nonEmpty,
      s"applyChanges rewrote every cell file: $before -> $after")

    val got = IvfIndex.serveTopK(spark, dir, q, "id", "vec", k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(!got.contains(0L), "ghost hit for deleted vector")
    // equal to a rebuilt index over the surviving corpus (same quantizer
    // fit: same data minus one point could shift centroids, so compare
    // against the STANDING quantizer's exhaustive answer instead)
    val rebuilt = s"$root/idx2"
    IvfIndex.build(base, "id", "vec", rebuilt, nCells = 8, seed = 7L, sampleFraction = 1.0)
    val gotRebuilt = IvfIndex.serveTopK(spark, rebuilt, q, "id", "vec", k = 5)
      .select("vec_id").as[Long].collect().toSet
    assert(got === gotRebuilt)
  }

  test("BM25: applyChanges folds a 40-document batch of fresh terms") {
    val root = freshRoot
    def text(id: Long, fresh: Int) =
      ((0 until fresh).map(j => s"w${id}x$j") :+ "shared" :+ s"g${id % 5}").mkString(" ")
    val base = LakeTable(spark, s"$root/docs")
      .write((1L to 100L).map(id => (id, text(id, 3))).toDF("doc_id", "text"))
    val dir = s"$root/idx"
    InvertedIndex.build(base, "doc_id", "text", dir)
    // 40 new documents with 15 fresh terms each: the fold's pruned
    // postings read carries a ~600-literal IN-list
    base.upsert((101L to 140L).map(id => (id, text(id, 15))).toDF("doc_id", "text"),
      Seq("doc_id"), changeFeed = true)
    var failure: Throwable = null
    val t = new Thread(() =>
      try InvertedIndex.applyChanges(base, "doc_id", "text", dir)
      catch { case e: Throwable => failure = e })
    t.start() // the JVM's default thread stack size
    t.join()
    assert(failure === null, s"applyChanges failed: $failure")
    val rebuilt = s"$root/idx2"
    InvertedIndex.build(base, "doc_id", "text", rebuilt)
    val queries = Seq(1L -> "w120x14", 1L -> "shared", 2L -> "g3", 3L -> "w7x1")
    assert(served(dir, queries: _*).exists(_._3 == 120L))
    assert(served(dir, queries: _*) === served(rebuilt, queries: _*))
    def termsOf(d: String) = LakeTable(spark, s"$d/terms").read
      .orderBy("term").as[(String, Long)].collect().toSeq
    assert(termsOf(dir) === termsOf(rebuilt))
  }
}
