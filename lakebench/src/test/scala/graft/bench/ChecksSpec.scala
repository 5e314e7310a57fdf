package graft.bench

import org.scalatest.funsuite.AnyFunSuite

/** The reference computations behind the benchmark's output checks: each
  * accepts a right answer and rejects a deliberately wrong one.
  */
class ChecksSpec extends AnyFunSuite {

  test("SHA-1 de-identification matches the standard digest and the null rule") {
    assert(Checks.sha1Hex("abc") == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(Checks.deidentified("") == Checks.sha1Hex("null"))
    assert(Checks.deidentified("999-12-3456") != Checks.sha1Hex("999-12-3457"))
  }

  test("table digests ignore row order but see any changed cell") {
    val rows = Seq(Map[String, Any]("id" -> "e1", "cost" -> 10.25),
      Map[String, Any]("id" -> "e2", "cost" -> 3.5))
    assert(Checks.digest(rows) == Checks.digest(rows.reverse))
    assert(Checks.digest(rows) != Checks.digest(rows.updated(1, rows(1) + ("cost" -> 3.75))))
    assert(Checks.digest(rows) != Checks.digest(rows.take(1)))
    assert(Checks.digest(rows) != Checks.digest(rows :+ rows.head))
    // one value, any JVM carrier: a timestamp and an int compare by value
    val ts = Checks.typed("2015-01-01T09:00:00Z", org.apache.spark.sql.types.TimestampType)
    assert(Checks.cell(ts) == Checks.cell(java.time.Instant.parse("2015-01-01T09:00:00Z")))
    assert(Checks.cell(7) == Checks.cell(7L))
  }

  private val docs = Map(1L -> "chest pain fever", 2L -> "fever cough cough",
    3L -> "chest xray normal", 4L -> "rash fever", 5L -> "headache")
  private val bm25 = new Checks.Bm25(docs)

  test("BM25 top-k accepts the reference ranking and tie permutations") {
    val truth = Checks.ranked(bm25.scores(Seq("fever", "chest")))
    assert(truth.head._1 == 1L) // the only doc with both terms
    assert(Checks.topKMatches(truth.take(3), truth, 3).isEmpty)
    val tied = Checks.ranked(bm25.scores(Seq("cough", "rash"))) // docs 2 and 4 differ
    assert(Checks.topKMatches(tied.take(2), tied, 2).isEmpty)
    val equalDocs = new Checks.Bm25(Map(1L -> "a b", 2L -> "a c", 3L -> "d e"))
    val t2 = Checks.ranked(equalDocs.scores(Seq("a")))
    assert(Checks.topKMatches(Seq(t2(1), t2(0)).take(1), t2, 1).isEmpty) // tie at rank 1
  }

  test("BM25 top-k rejects a wrong score, a wrong doc and a short list") {
    val truth = Checks.ranked(bm25.scores(Seq("fever", "chest")))
    val wrongScore = truth.take(3).updated(0, truth.head._1 -> (truth.head._2 + 0.01))
    assert(Checks.topKMatches(wrongScore, truth, 3).nonEmpty)
    val wrongDoc = truth.take(2) :+ (5L -> 0.5)
    assert(Checks.topKMatches(wrongDoc, truth, 3).nonEmpty)
    assert(Checks.topKMatches(truth.take(2), truth, 3).nonEmpty)
    val belowCut = Seq(truth.head, truth.last)
    assert(Checks.topKMatches(belowCut, truth, 2).nonEmpty)
  }

  test("recall@k counts hits against the exact neighbours") {
    val exact = Seq(1L -> 0.9, 2L -> 0.8, 3L -> 0.7, 4L -> 0.1)
    assert(Checks.recallAtK(Seq(1L, 2L, 3L), exact, 3) == 1.0)
    assert(Checks.recallAtK(Seq(1L, 2L, 4L), exact, 3) == 2.0 / 3)
  }

  test("shingle Jaccard of near and far texts") {
    val a = Checks.shingles("a b c d e f", 3)
    assert(a == Set("a b c", "b c d", "c d e", "d e f"))
    assert(Checks.jaccard(a, a) == 1.0)
    assert(Checks.jaccard(a, Checks.shingles("a b c d e x", 3)) == 3.0 / 5)
  }

  test("chi-square of a 2x2 table matches the textbook value") {
    val pairs = Seq.fill(10)("m" -> "1") ++ Seq.fill(20)("m" -> "0") ++
      Seq.fill(30)("f" -> "1") ++ Seq.fill(40)("f" -> "0")
    val (chi2, dof) = Checks.chiSquare(pairs)
    assert(math.abs(chi2 - 0.79365) < 1e-4 && dof == 1L)
    val (other, _) = Checks.chiSquare(pairs.drop(1))
    assert(math.abs(other - chi2) > 1e-3)
  }

  test("generated inputs are a function of the seed") {
    val a = Gen.ehr(7L, 50, 400)
    assert(a == Gen.ehr(7L, 50, 400))
    assert(a != Gen.ehr(8L, 50, 400))
    assert(a.encounters.forall(e => (e.cost * 4).isWhole))
    val c = new Gen.Corpus(7L)
    val (notes, dups) = c.batch(Gen.rng(7L, "n"), 1L, 200, 0.2, IndexedSeq.empty)
    assert(dups.nonEmpty)
    val byId = notes.map(n => n.id -> n).toMap
    assert(dups.forall { case (d, o) =>
      Checks.jaccard(Checks.shingles(byId(d).text, 3), Checks.shingles(byId(o).text, 3)) >= 0.7
    })
  }

  test("a maintenance batch injects near-duplicates only of originals it leaves unchanged") {
    val c = new Gen.Corpus(11L)
    val (notes, _) = c.batch(Gen.rng(11L, "n"), 1L, 30, 0.0, IndexedSeq.empty)
    val docs = notes.map(n => n.id -> n).toMap
    val size = NoteSearch.Size(30, 40, 8, 4, 1, 1)
    val plans = (0 until 200).map(i =>
      NoteSearch.planBatch(c, Gen.rng(i.toLong, "batch"), size, docs, docs, 31L))
    // 12 of the 30 originals are touched in every batch: drawing from all
    // of them would hit one in almost every batch
    plans.foreach { p =>
      val touched = p.amended.map(_.id).toSet ++ p.retracted
      assert(touched.size == 12)
      assert(p.dups.forall { case (_, orig) => !touched(orig) })
    }
    assert(plans.count(_.dups.exists(_._2 <= 30L)) > 150) // pairs against the corpus
  }
}
