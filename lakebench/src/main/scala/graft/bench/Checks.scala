package graft.bench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Reference computations the benchmark checks the engine's outputs
  * against. They use only the generated inputs and plain Scala (no Spark),
  * so an engine fault cannot hide by being repeated here.
  */
object Checks {

  def sha1Hex(s: String): String =
    MessageDigest.getInstance("SHA-1").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** The ETL's de-identification rule: a missing value hashes as "null". */
  def deidentified(raw: String): String = sha1Hex(if (raw == null || raw.isEmpty) "null" else raw)

  /** A generated CSV cell as the value Spark should hold for it in a column
    * of type `dt` (empty cells read as null).
    */
  def typed(raw: String, dt: DataType): Any =
    if (raw == null || raw.isEmpty) null
    else dt match {
      case IntegerType => raw.toInt
      case LongType => raw.toLong
      case DoubleType => raw.toDouble
      case TimestampType => new java.sql.Timestamp(Gen.epochMillis(raw))
      case DateType => java.sql.Date.valueOf(raw.take(10))
      case _ => raw
    }

  /** Canonical text of a cell, equal for equal values whatever JVM type
    * carries them.
    */
  def cell(v: Any): String = v match {
    case null => "-"
    case t: java.sql.Timestamp => "t" + t.getTime
    case i: java.time.Instant => "t" + i.toEpochMilli
    case d: java.sql.Date => "d" + d.toLocalDate
    case d: java.time.LocalDate => "d" + d
    case x: Double => "f" + java.lang.Double.toString(x)
    case x: Float => "f" + java.lang.Double.toString(x.toDouble)
    case x: Int => "i" + x
    case x: Long => "i" + x
    case s: String => "s" + s
    case other => "o" + other.toString
  }

  /** 64-bit hash of one row given as column name -> value. */
  def rowHash(cells: Map[String, Any]): Long = {
    val s = cells.toSeq.sortBy(_._1).map { case (k, v) => k + "=" + cell(v) }.mkString("\u0001")
    (MurmurHash3.stringHash(s, 17).toLong << 32) | (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
  }

  /** Order-independent digest of a table: row count and the wrapping sum
    * of row hashes.
    */
  final case class Digest(rows: Long, hashSum: Long)
  def digest(rows: Iterable[Map[String, Any]]): Digest =
    rows.foldLeft(Digest(0L, 0L))((d, r) => Digest(d.rows + 1, d.hashSum + rowHash(r)))

  def rowMap(r: Row): Map[String, Any] =
    r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap

  // ---------------- text ----------------

  def tokens(text: String): Array[String] = text.trim.toLowerCase.split("\\s+")

  def shingles(text: String, n: Int): Set[String] = {
    val t = tokens(text)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = (a intersect b).size.toDouble
    common / (a.size + b.size - common)
  }

  def round6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Okapi BM25 with whitespace tokens: score(q, d) = sum over the distinct
    * query terms of idf(t) * tf (k1 + 1) / (tf + k1 (1 - b + b dl / avgdl)),
    * idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)).
    */
  final class Bm25(docs: Map[Long, String], k1: Double = 1.2, b: Double = 0.75) {
    private val toks = docs.map { case (id, t) => id -> tokens(t) }
    private val n = toks.size.toDouble
    private val avgdl = toks.values.map(_.length.toDouble).sum / n
    private val df: Map[String, Int] =
      toks.values.flatMap(_.distinct).groupBy(identity).map { case (t, xs) => t -> xs.size }
    private val tf = toks.map { case (id, ts) => id -> ts.groupBy(identity).map(x => x._1 -> x._2.length) }

    def scores(terms: Seq[String], exclude: Long = Long.MinValue): Map[Long, Double] = {
      val q = terms.distinct
      toks.keys.filter(_ != exclude).flatMap { id =>
        val dl = toks(id).length.toDouble
        val parts = q.flatMap { t =>
          tf(id).get(t).map { f =>
            val d = df(t).toDouble
            math.log(1.0 + (n - d + 0.5) / (d + 0.5)) * f * (k1 + 1.0) /
              (f + k1 * (1.0 - b + b * dl / avgdl))
          }
        }
        if (parts.isEmpty) None else Some(id -> parts.sum)
      }.toMap
    }
  }

  /** Ranked (id, score) with scores rounded to 6 places, ties by id. */
  def ranked(scores: Map[Long, Double]): Seq[(Long, Double)] =
    scores.toSeq.map { case (id, s) => id -> round6(s) }.sortBy { case (id, s) => (-s, id) }

  /** Whether `got` (id, score) is a valid top-k of `truth` up to ties: the
    * size is right, every score matches the reference score of its id, and
    * nothing below the reference k-th score got in.
    */
  def topKMatches(got: Seq[(Long, Double)], truth: Seq[(Long, Double)], k: Int,
      eps: Double = 2e-6): Option[String] = {
    val ref = truth.toMap
    val want = math.min(k, truth.size)
    if (got.size != want) return Some(s"got ${got.size} results, want $want")
    if (got.map(_._1).distinct.size != got.size) return Some("duplicate ids")
    val kth = truth(want - 1)._2
    got.collectFirst {
      case (id, s) if !ref.contains(id) => s"id $id is not a candidate"
      case (id, s) if math.abs(ref(id) - s) > eps => s"id $id scored $s, reference ${ref(id)}"
      case (id, s) if s < kth - eps => s"id $id scored $s below the k-th reference score $kth"
    }
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Recall@k of `got` against the exact top-k, counting a tie at the k-th
    * score as a hit.
    */
  def recallAtK(got: Seq[Long], exact: Seq[(Long, Double)], k: Int, eps: Double = 2e-6): Double = {
    val kth = exact(math.min(k, exact.size) - 1)._2
    val ok = exact.takeWhile(_._2 >= kth - eps).map(_._1).toSet
    got.take(k).count(ok.contains).toDouble / math.min(k, exact.size)
  }

  /** Pearson chi-square over the full cross product of observed levels. */
  def chiSquare(pairs: Seq[(String, String)]): (Double, Long) = {
    val cells = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toDouble }
    val as = pairs.map(_._1).distinct
    val bs = pairs.map(_._2).distinct
    val t = pairs.size.toDouble
    val rn = as.map(a => a -> bs.map(b => cells.getOrElse((a, b), 0.0)).sum).toMap
    val cn = bs.map(b => b -> as.map(a => cells.getOrElse((a, b), 0.0)).sum).toMap
    val chi2 = (for (a <- as; b <- bs) yield {
      val e = rn(a) * cn(b) / t
      val o = cells.getOrElse((a, b), 0.0)
      (o - e) * (o - e) / e
    }).sum
    (chi2, (as.size - 1L) * (bs.size - 1L))
  }

  /** A decision tree's prediction for one feature vector, walked from the
    * model's public node structure.
    */
  def treePredict(node: org.apache.spark.ml.tree.Node,
      features: org.apache.spark.ml.linalg.Vector): Double = node match {
    case leaf: org.apache.spark.ml.tree.LeafNode => leaf.prediction
    case in: org.apache.spark.ml.tree.InternalNode =>
      val left = in.split match {
        case c: org.apache.spark.ml.tree.ContinuousSplit =>
          features(c.featureIndex) <= c.threshold
        case c: org.apache.spark.ml.tree.CategoricalSplit =>
          c.leftCategories.contains(features(c.featureIndex))
      }
      treePredict(if (left) in.leftChild else in.rightChild, features)
  }
}
