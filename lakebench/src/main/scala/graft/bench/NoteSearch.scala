package graft.bench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.LakeTable
import graft.text.{Dedup, HybridSearch, InvertedIndex, IvfIndex}

/** Retrieval over seeded clinical notes: BM25 serves from a standing
  * inverted index, IVF top-k serves from a standing IVF index that the
  * maintenance keeps current, and a hybrid (BM25 + cosine, rank-fused)
  * search over the live notes table. Every round starts with one
  * maintenance batch on the same tables: new notes append, amended notes
  * upsert and retracted notes delete (each with a change feed), the IVF
  * index folds the change feed in, and the new notes are checked for
  * near-duplicates against the corpus. The round's serves then read what
  * the batch left.
  *
  * The BM25 index is built once from the set-up corpus and serves that
  * snapshot: folding a batch's change feed into it with
  * `InvertedIndex.applyChanges` overflows the driver's stack (see
  * CHANGES.md), so the workload leaves that fold out.
  */
object NoteSearch {

  final case class Size(docs: Int, batch: Int, amend: Int, retract: Int, bm25: Int, ivf: Int)
  val Full: Size = Size(3000, 40, 8, 4, 2, 2)
  val Smoke: Size = Size(600, 20, 4, 2, 2, 2)

  val K = 10
  val HybridN = 20
  val Shingle = 3
  val Threshold = 0.7
  val NProbe = 4
  val Cells = 16
  val RecallFloor = 0.8
  val DupRecallFloor = 0.9

  val NoteSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))

  final class State(val root: Path, val corpus: Gen.Corpus) {
    val lake: String = root.resolve("lake").toString
    val basePath = s"$lake/notes"
    val bm25Dir = s"$lake/bm25"
    val ivfDir = s"$lake/ivf"
    val minhashPath = s"$lake/minhash"
    var base: LakeTable = _
    var minhash: LakeTable = _
    /** The model: live notes by id. */
    val docs: mutable.LinkedHashMap[Long, Gen.Note] = mutable.LinkedHashMap.empty
    /** Live notes whose MinHash signature is current: near-dups are drawn
      * from these, so every injected pair is findable.
      */
    val originals: mutable.LinkedHashMap[Long, Gen.Note] = mutable.LinkedHashMap.empty
    /** What the BM25 index holds: the set-up corpus. */
    var bm25Ref: Checks.Bm25 = _
    var nextId = 1L
    var batches = 0
  }

  def tables(st: State): Seq[String] = Seq(st.basePath, s"${st.bm25Dir}/postings",
    s"${st.bm25Dir}/terms", s"${st.bm25Dir}/stats", s"${st.ivfDir}/centers",
    s"${st.ivfDir}/postings", st.minhashPath)

  def run(b: Bench): Unit = {
    val size = if (b.cfg.smoke) Smoke else Full
    b.setUpAndRun[State](i => setup(b, b.cfg.work.resolve(s"note_search-$i"), size),
      _.root, tables)(warmUp(b, _, size))((st, r) => round(b, st, size, r))
  }

  private def landNotes(b: Bench, st: State, notes: Seq[Gen.Note]): String = {
    val p = st.root.resolve(f"landing/notes-${st.batches}%04d.jsonl")
    st.batches += 1
    val lines = notes.map(n => s"""{"doc_id":${n.id},"text":"${n.text}","embedding":[""" +
      n.vec.map(java.lang.Float.toString).mkString(",") + "]}")
    b.inputBytes += Gen.writeFile(p, lines.mkString("", "\n", "\n"))
    p.toString
  }

  private def addToModel(st: State, notes: Seq[Gen.Note], dups: Seq[(Long, Long)]): Unit = {
    val dupIds = dups.map(_._1).toSet
    notes.foreach { n =>
      st.docs(n.id) = n
      if (!dupIds(n.id)) st.originals(n.id) = n
    }
    st.nextId += notes.size
  }

  def setup(b: Bench, root: Path, size: Size): State = {
    val spark = b.spark
    val st = new State(root, new Gen.Corpus(b.cfg.seed))
    val (notes, dups) = st.corpus.batch(b.rng("notes"), 1L, size.docs, 0.05, IndexedSeq.empty)
    val path = landNotes(b, st, notes)
    addToModel(st, notes, dups)
    st.base = LakeTable(spark, st.basePath).write(spark.read.schema(NoteSchema).json(path))
    b.setupPart("text.index_build") {
      b.span("text.bm25_build")(InvertedIndex.build(
        st.base.read.select(col("doc_id"), col("text")), "doc_id", "text", st.bm25Dir))
      b.span("text.ivf_build")(
        IvfIndex.build(st.base, "doc_id", "embedding", st.ivfDir, Cells, 42L, 1.0))
      st.minhash = b.span("sources.write")(LakeTable(spark, st.minhashPath).write(
        Dedup.buildMinhashIndex(st.base.read, "doc_id", "text", Shingle, 16, 2, 42)))
    }
    st.bm25Ref = new Checks.Bm25(st.docs.map { case (id, n) => id -> n.text }.toMap)
    st
  }

  /** (id, score) of a serve's (query, rank, id, score) rows, by rank. Serves
    * return top-k rows to the caller, so ops collect them.
    */
  private def ranked(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Double)] =
    rows.sortBy(_.getLong(1)).map(x => x.getLong(2) -> x.getDouble(3)).toSeq

  /** One maintenance batch's inputs: amended and retracted live notes, and
    * new notes with injected near-duplicates. The near-duplicates are drawn
    * only from originals this batch leaves unchanged: a pair whose original
    * is amended or retracted in the same batch has nothing left in the
    * corpus to match.
    */
  final case class Batch(amended: Seq[Gen.Note], retracted: Seq[Long],
      notes: IndexedSeq[Gen.Note], dups: Seq[(Long, Long)])

  def planBatch(corpus: Gen.Corpus, rnd: scala.util.Random, size: Size,
      docs: collection.Map[Long, Gen.Note], originals: collection.Map[Long, Gen.Note],
      nextId: Long): Batch = {
    val live = rnd.shuffle(docs.keys.toIndexedSeq)
    val amended = live.take(size.amend).sorted.map { id =>
      val n = corpus.nearDup(rnd, id, docs(id))
      Gen.Note(id, n.text, n.vec)
    }
    val retracted = live.slice(size.amend, size.amend + size.retract).sorted
    val touched = (amended.map(_.id) ++ retracted).toSet
    val (notes, dups) = corpus.batch(rnd, nextId, size.batch, 0.2,
      originals.values.filterNot(n => touched(n.id)).toIndexedSeq)
    Batch(amended, retracted, notes, dups)
  }

  /** One round: a maintenance batch, then the serves, which therefore read
    * the tables and the IVF index as the batch left them.
    */
  def round(b: Bench, st: State, size: Size, r: Int): Unit = {
    val rnd = b.rng(s"round-$r")
    maintain(b, st, planBatch(st.corpus, rnd, size, st.docs, st.originals, st.nextId))
    verifyLake(b, st)
    serve(b, st, size, r, rnd)
  }

  /** The warm-up before timing: one serve of each kind, without a batch.
    * The batch's writes are already warmed by the set-ups' table and index
    * writes; a whole round would cost more than a run's time allows.
    */
  def warmUp(b: Bench, st: State, size: Size): Unit =
    serve(b, st, size.copy(bm25 = 1, ivf = 1), 0, b.rng("round-0"))

  /** The round's serves, each checked: BM25, IVF top-k and hybrid. */
  def serve(b: Bench, st: State, size: Size, r: Int, rnd: scala.util.Random): Unit = {
    val spark = b.spark
    import spark.implicits._
    (0 until size.bm25).foreach { i =>
      val qid = r * 100L + i
      val terms = st.corpus.queryTerms(rnd)
      val res = b.op("bm25", "text", write = false)(b.span("text.serve_bm25")(
        InvertedIndex.serveBm25(spark, st.bm25Dir, terms.map(qid -> _), K,
          InvertedIndex.DefaultK1, InvertedIndex.DefaultB).collect()))
      val got = ranked(res)
      val err = Checks.topKMatches(got, Checks.ranked(st.bm25Ref.scores(terms)), K)
      b.check(s"BM25 top-$K for ${terms.mkString(" ")}")(err.isEmpty, err.getOrElse(""))
    }

    (0 until size.ivf).foreach { i =>
      val qid = 1000000000L + r * 100L + i
      val vec = st.corpus.queryVec(rnd)
      val res = b.op("ivf_topk", "text", write = false)(b.span("text.ivf_serve_topk")(
        IvfIndex.serveTopK(spark, st.ivfDir, Seq((qid, vec)).toDF("q_id", "vec"),
          "q_id", "vec", K, NProbe).collect()))
      val got = ranked(res)
      got.foreach { case (id, cos) =>
        val exact = st.docs.get(id).map(n => Checks.round6(Checks.cosine(vec, n.vec)))
        b.check("IVF score is the exact cosine of a live note")(
          exact.exists(e => math.abs(e - cos) <= 2e-6), s"doc $id: $cos vs $exact")
      }
      val exact = Checks.ranked(st.docs.map { case (id, n) => id -> Checks.cosine(vec, n.vec) }.toMap)
      val recall = Checks.recallAtK(got.map(_._1), exact, K)
      b.note("text.ivf_recall_at_10", recall)
      b.check(s"IVF recall@$K")(recall >= RecallFloor, f"$recall%.2f < $RecallFloor")
    }

    val ids = st.docs.keys.toIndexedSeq
    val qdoc = ids(rnd.nextInt(ids.size))
    val hyb = b.op("hybrid", "text", write = false)(b.span("text.hybrid_top_k") {
      val notes = st.base.read
      HybridSearch.hybridTopK(notes.select(col("doc_id"), col("text")),
        notes.select(col("doc_id"), col("embedding")), col("doc_id") === qdoc, HybridN, K).collect()
    })
    checkHybrid(b, st, qdoc, ranked(hyb))
  }

  /** Lands one maintenance batch on the notes table, folds it into the IVF
    * index and checks the new notes for near-duplicates; the model follows.
    */
  def maintain(b: Bench, st: State, m: Batch): Unit = {
    val spark = b.spark
    val path = landNotes(b, st, m.notes)
    val amendPath = landNotes(b, st, m.amended)
    b.op("append", "sources", write = true, rows = m.notes.size.toLong) {
      b.span("sources.merge")(st.base.merge(spark.read.schema(NoteSchema).json(path),
        Seq("doc_id"), whenMatched = Nil, insertUnmatched = true, changeFeed = true))
    }
    addToModel(st, m.notes, m.dups)
    b.op("upsert", "sources", write = true, rows = m.amended.size.toLong) {
      b.span("sources.upsert")(st.base.upsert(spark.read.schema(NoteSchema).json(amendPath),
        Seq("doc_id"), changeFeed = true))
    }
    m.amended.foreach { n => st.docs(n.id) = n; st.originals.remove(n.id) }
    b.op("delete", "sources", write = true, rows = m.retracted.size.toLong) {
      b.span("sources.delete")(st.base.delete(col("doc_id").isin(m.retracted: _*), changeFeed = true))
    }
    m.retracted.foreach { id => st.docs.remove(id); st.originals.remove(id) }
    b.op("index_apply", "text", write = true) {
      b.span("text.ivf_apply_changes")(
        IvfIndex.applyChanges(st.base, "doc_id", "embedding", st.ivfDir))
    }
    val pairs = b.op("near_dup", "text", write = true) {
      val batch = spark.read.schema(NoteSchema).json(path)
      val found = b.span("text.near_dup_verified")(Dedup.incrementalNearDupVerified(
        batch, st.minhash.read, st.base.read, "doc_id", "text", Shingle, Threshold).collect())
      b.span("sources.write")(st.minhash.write(
        Dedup.buildMinhashIndex(batch, "doc_id", "text", Shingle, 16, 2, 42), SaveMode.Append))
      found.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
    }
    checkNearDups(b, st, m.notes.map(_.id).toSet, m.dups, pairs)
  }

  /** The notes table and the IVF postings hold exactly the model's live
    * notes, with their current text and vector: the append, upsert, delete
    * and IVF fold each landed.
    */
  def verifyLake(b: Bench, st: State): Unit = {
    def vec(r: org.apache.spark.sql.Row, i: Int): Seq[Double] =
      r.getSeq[Float](i).map(_.toDouble)
    def close(a: Seq[Double], v: Array[Float]): Boolean =
      a.size == v.length && a.zip(v).forall { case (x, y) => math.abs(x - y) <= 1e-6 }
    def compare(what: String, rows: Seq[(Long, Option[String], Seq[Double])]): Unit = {
      val byId = rows.groupBy(_._1)
      b.check(s"$what holds each live note once")(rows.size == st.docs.size &&
        byId.keySet == st.docs.keySet,
        s"${rows.size} rows, ${(byId.keySet -- st.docs.keySet).size} not live, " +
          s"${(st.docs.keySet -- byId.keySet).size} missing")
      rows.foreach { case (id, text, v) =>
        val n = st.docs(id)
        b.check(s"$what row matches the live note")(text.forall(_ == n.text) && close(v, n.vec),
          s"doc $id")
      }
    }
    compare("notes table", st.base.read.select("doc_id", "text", "embedding").collect()
      .map(r => (r.getLong(0), Some(r.getString(1)), vec(r, 2))).toSeq)
    compare("IVF postings", LakeTable(b.spark, s"${st.ivfDir}/postings").read
      .select("vec_id", "vec").collect().map(r => (r.getLong(0), None, vec(r, 1))).toSeq)
  }

  /** Every reported pair is a true near-duplicate with the reported
    * Jaccard, and the injected pairs are found.
    */
  private def checkNearDups(b: Bench, st: State, batchIds: Set[Long],
      injected: Seq[(Long, Long)], pairs: Seq[(Long, Long, Double)]): Unit = {
    pairs.foreach { case (a, c, j) =>
      val truth = for (x <- st.docs.get(a); y <- st.docs.get(c))
        yield Checks.jaccard(Checks.shingles(x.text, Shingle), Checks.shingles(y.text, Shingle))
      b.check("near-dup pair")(batchIds(a) && !batchIds(c) &&
        truth.exists(t => t >= Threshold - 1e-9 && math.abs(Checks.round6(t) - j) <= 2e-6),
        s"($a, $c) reported $j, true $truth")
    }
    // a batch is checked against the corpus only: a near-dup of a note in
    // the same batch has no signature in the index yet and cannot be found
    val againstCorpus = injected.filterNot { case (_, orig) => batchIds(orig) }
    if (againstCorpus.nonEmpty) {
      val found = pairs.map(p => (p._1, p._2)).toSet
      val recall = againstCorpus.count(found.contains).toDouble / againstCorpus.size
      b.check("near-dup recall")(recall >= DupRecallFloor, f"$recall%.2f of ${againstCorpus.size}")
    }
  }

  /** Rank interval [best, worst] of each doc in a ranked list under
    * score ties within `eps`; docs whose best rank is past `n` are absent.
    */
  private def rankRanges(scores: Map[Long, Double], n: Int, eps: Double = 2e-6): Map[Long, (Int, Int)] = {
    val s = scores.values.toArray.sorted
    scores.flatMap { case (id, v) =>
      val above = s.count(_ > v + eps)
      val tied = s.count(x => math.abs(x - v) <= eps)
      if (above + 1 > n) None else Some(id -> (above + 1, above + tied))
    }
  }

  /** Hybrid results must come from the lexical or semantic top-n and carry
    * a reciprocal-rank-fusion score consistent with their ranks there.
    */
  private def checkHybrid(b: Bench, st: State, q: Long, got: Seq[(Long, Double)]): Unit = {
    val qn = st.docs(q)
    val bm25Ref = new Checks.Bm25(st.docs.map { case (id, n) => id -> n.text }.toMap)
    val lex = rankRanges(bm25Ref.scores(Checks.tokens(qn.text).toSeq, exclude = q)
      .map { case (id, s) => id -> Checks.round6(s) }, HybridN)
    val sem = rankRanges(st.docs.iterator.filter(_._1 != q)
      .map { case (id, n) => id -> Checks.round6(Checks.cosine(qn.vec, n.vec)) }.toMap, HybridN)
    def part(r: Option[(Int, Int)], n: Int) = r match {
      case None => (0.0, 0.0)
      case Some((lo, hi)) =>
        (if (hi > n) 0.0 else 1.0 / (HybridSearch.RrfK + hi), 1.0 / (HybridSearch.RrfK + lo))
    }
    val union = lex.keySet ++ sem.keySet
    b.check("hybrid result count")(got.size == math.min(K, union.size), s"${got.size}")
    b.check("hybrid ranks by fused score")(got.map(_._2) == got.map(_._2).sortBy(-_))
    got.foreach { case (id, rrf) =>
      val (l0, l1) = part(lex.get(id), HybridN)
      val (s0, s1) = part(sem.get(id), HybridN)
      b.check("hybrid result from the lexical or semantic list")(union(id), s"doc $id")
      b.check("hybrid fused score")(rrf >= l0 + s0 - 2e-6 && rrf <= l1 + s1 + 2e-6,
        s"doc $id: $rrf not in [${l0 + s0}, ${l1 + s1}]")
    }
  }
}
