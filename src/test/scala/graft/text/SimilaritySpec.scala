package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

class SimilaritySpec extends SparkSpec {

  test("bruteTopK: k rows per query, descending cosine, no self-match") {
    val e = Tables(spark, sf0001).embeddings
    val out = Similarity.bruteTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding", 5)
      .collect()
    assert(out.length === 25)
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq === (1L to 5L))
      val cosines = byRank.map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (x, y) => x >= y })
      assert(!rows.exists(_.getLong(2) === q), "self-match")
    }
  }

  test("lshTopK recall vs brute force is reasonable at test scale") {
    val e = Tables(spark, sf0001).embeddings
    val q = e.where(col("vec_id") < 20)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(e, q, "vec_id", "embedding", 64, 3,
      nPlanes = 4, nTables = 8)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("ivfTopK recall vs brute force is reasonable at test scale") {
    val e = Tables(spark, sf0001).embeddings
    val q = e.where(col("vec_id") < 20)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ivf.ivfTopK(e, q, "vec_id", "embedding", 3, nCells = 8, nProbe = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("ivfTopK with a sampled quantizer build keeps recall close to the full fit") {
    val e = Tables(spark, sf001).embeddings
    val q = e.where(col("vec_id") < 20)
    def pairs(frac: Double) =
      Ivf.ivfTopK(e, q, "vec_id", "embedding", 3, nCells = 8, nProbe = 4,
        buildSampleFraction = frac)
        .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullRecall = brute.intersect(pairs(1.0)).size.toDouble / brute.size
    val sampledRecall = brute.intersect(pairs(0.5)).size.toDouble / brute.size
    // the quantizer only partitions the space — a sample-fit quantizer
    // costs at most a sliver of recall vs fitting on the whole corpus.
    // (The tolerance is loose because sf0.01 is a tiny corpus; the tight
    // ±0.01 claim was measured at 100k+ vectors, see BASELINE.md.)
    assert(sampledRecall >= fullRecall - 0.1,
      s"sampled-build recall $sampledRecall vs full $fullRecall")
    assert(sampledRecall >= 0.5, s"sampled recall $sampledRecall too low")
  }

  test("ivfPqTopK recall tracks pure IVF (pruning bound) at test scale") {
    val e = Tables(spark, sf0001).embeddings
    val q = e.where(col("vec_id") < 20)
    val brute = Similarity.bruteTopK(e, q, "vec_id", "embedding", 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ivf.ivfTopK(e, q, "vec_id", "embedding", 3, nCells = 8, nProbe = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Ivf.ivfPqTopK(e, q, "vec_id", "embedding", 3,
      nCells = 8, nProbe = 4, m = 16, pqCells = 16, shortlist = 60)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = brute.intersect(ivf).size.toDouble / brute.size
    val ivfpqRecall = brute.intersect(ivfpq).size.toDouble / brute.size
    // cell pruning bounds the composition's recall by pure IVF's; the
    // ADC shortlist + exact re-rank must recover nearly all of that bound
    assert(ivfpqRecall >= ivfRecall - 0.1,
      s"IVF-PQ recall $ivfpqRecall fell below its IVF pruning bound $ivfRecall")
    assert(ivfpqRecall >= 0.5, s"IVF-PQ recall $ivfpqRecall too low")
  }

  test("ivfPqTopK with standing quantizers + serving set reproduces the inline build") {
    val e = Tables(spark, sf0001).embeddings
    val q = e.where(col("vec_id") < 10)
    val centers = Ivf.fitCentroids(
      e.select(col("embedding")), "embedding", nCells = 8, sampleFraction = 0.5)
    val books = Pq.fitCodebooks(e, "embedding", m = 16, k = 16, sampleFraction = 0.5)
    val index = Ivf.ivfPqIndex(e, "vec_id", "embedding", centers, books)
    def run(idx: Option[org.apache.spark.sql.DataFrame]) =
      Ivf.ivfPqTopK(e, q, "vec_id", "embedding", 3,
        nCells = 8, nProbe = 4, m = 16, pqCells = 16, shortlist = 50,
        seed = 42L, buildSampleFraction = 0.5,
        centers = Some(centers), codebooks = Some(books), index = idx)
        .collect().map(_.toSeq).toSeq
    assert(run(Some(index)) === run(None),
      "materialized serving set must reproduce the inline map-only derivation")
  }

  test("standing IVF index: save/load round-trips and reproduces the in-line build") {
    val e = Tables(spark, sf0001).embeddings
    val q = e.where(col("vec_id") < 10)
    val centers = Ivf.fitCentroids(
      e.select(col("embedding")), "embedding", nCells = 8, sampleFraction = 0.5)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf").resolve("idx").toString
    Ivf.saveIndex(centers, path)
    val loaded = Ivf.loadIndex(spark, path)
    assert(loaded.count() === 8)
    def run(idx: org.apache.spark.sql.DataFrame) =
      Ivf.ivfTopK(e, q, "vec_id", "embedding", 3, nCells = 8, nProbe = 4,
        centers = Some(idx)).collect().map(_.toSeq).toSeq
    assert(run(loaded) === run(centers),
      "persisted index must reproduce the in-memory index exactly")
  }

  test("embedding LSH near-dup: single-band prunes with precision 1; banded recalls everything") {
    // ground truth = q_embedding_pairs_exact, which the DuckDB oracle
    // hash-checks — so this pin chains back to an oracle row instead of
    // trusting a test-local recomputation
    val exact = TextQueries.embeddingPairsExact(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.size === 59, s"exact ground truth drifted: ${exact.size} pairs")
    // the declared query (single 4-plane band + exact cosine verify,
    // itself fully oracled via inlined plane constants): precision 1
    // with identical cosines; recall is the pruning trade it makes
    val single = TextQueries.embeddingNearDupLsh(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    single.foreach { case (pair, cos) =>
      assert(exact.get(pair).contains(cos), s"false/drifted pair $pair -> $cos")
    }
    val recall = single.size.toDouble / exact.size
    assert(recall >= 0.10, s"single-band candidate recall $recall collapsed")
    // the OR-banded AND-OR construction is the recall dial: at 32x2 the
    // per-pair candidate miss at threshold 0.4 is ~9e-8 (seeded, so
    // deterministic), and the output must equal exact all-pairs — pinned
    // at sf0.001 where near-exhaustive candidate cost is a test budget,
    // not a bench lie
    val exactSmall = TextQueries.embeddingPairsExact(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val banded = Dedup.embeddingNearDupBanded(
      Tables(spark, sf0001).embeddings, "vec_id", "embedding",
      dim = 64, threshold = 0.4, bands = 32, planesPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(banded === exactSmall, "banded LSH must reproduce exact all-pairs here")
  }

  test("lshTopK is deterministic given the seed") {
    val e = Tables(spark, sf0001).embeddings
    val q = e.where(col("vec_id") < 3)
    def run() = Similarity.lshTopK(e, q, "vec_id", "embedding", 64, 3)
      .collect().map(_.toSeq).toSeq
    assert(run() === run())
  }
}
