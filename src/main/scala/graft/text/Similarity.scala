package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Similarity search over embedding columns (north-star pillar; SURVEY §2
  * M3): brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * variant as the sub-quadratic scale path.
  *
  * Brute force = broadcast(queries) × corpus with the codegen'd
  * [[VectorFunctions.cosineSim]], then per-query top-k via window row_number
  * — the corpus is scanned once, never shuffled (the 100 TB-sane layout when
  * |queries| is small). The LSH path buckets both sides by random-hyperplane
  * signs and only scores within buckets (tunable recall, measured in
  * SimilaritySpec).
  */
object Similarity {

  /** Exact cosine top-k neighbors per query row.
    *
    * @param corpus  (id, vec) rows
    * @param queries (id, vec) rows — must be broadcast-small
    */
  def bruteTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val scored = c
      .join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(
        col("q_id"),
        col("n_id"),
        VectorFunctions.cosineSim(col("q_vec"), col("n_vec")).as("cos")
      )
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** LSH-bucketed approximate top-k: score only candidates sharing a
    * hyperplane-sign bucket in at least one of `nTables` tables. Recall
    * grows with tables; cost is |bucket| joins instead of full scans.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      nPlanes: Int = 6,
      nTables: Int = 4,
      seed: Long = 42L
  ): DataFrame = {
    val rnd = new scala.util.Random(seed)
    // one plane set, shared verbatim by both sides
    val tables: Seq[Array[Array[Double]]] =
      Seq.fill(nTables)(Array.fill(nPlanes, dim)(rnd.nextGaussian()))
    // ONE fused expression computes every table's bucket hash (see
    // [[graft.functions.HyperplaneBuckets]] — the composed per-plane
    // column version fell out of codegen at 8x6 planes and ran ~50x
    // slower; the ANN scale figures are in BASELINE.md)
    val planeSeq: Seq[Seq[Seq[Double]]] = tables.map(_.map(_.toSeq).toSeq)
    def buckets(d: DataFrame, id: String, vec: String) =
      d.select(col(id), col(vec),
          posexplode(VectorFunctions.hyperplaneBuckets(col(vec), planeSeq))
            .as(Seq("t", "h")))
    val cb = buckets(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), "n_id", "n_vec")
    val qb = buckets(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")), "q_id", "q_vec")
    // score BEFORE deduping: a pair matching in several tables is scored
    // up to nTables times (64-dim cosine is cheap), but the dedup then
    // shuffles only the narrow (q_id, n_id, cos) tuple. Deduping first —
    // distinct over rows still carrying both vectors — shuffles ~600
    // bytes/row of vector payload and was the measured bottleneck of the
    // whole LSH path (100k vectors: 76s -> see the ANN tables in BASELINE.md).
    val scored = cb.join(broadcast(qb), Seq("t", "h"))
      .where(col("q_id") =!= col("n_id"))
      .select(
        col("q_id"), col("n_id"),
        VectorFunctions.cosineSim(col("q_vec"), col("n_vec")).as("cos"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(first(col("cos")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }
}
