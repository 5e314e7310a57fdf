package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.sources.LakeTable

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path for M3 (complements the hyperplane-LSH variant in
  * [[Similarity.lshTopK]]).
  *
  * Index: seeded k-means centroids; every vector is assigned to its
  * nearest centroid cell (one narrow int column — at 100 TB this is the
  * cheap, write-once part). Query: score only vectors in the `nProbe`
  * cells whose centroids are closest to the query — cost drops from
  * |corpus| to ~|corpus| * nProbe / nCells per query, at recall measured
  * in SimilaritySpec and at 100k vectors in BASELINE.md (ANN scale probe).
  *
  * Scale design:
  *   - the k-means fit accepts `sampleFraction`: each fit iteration scans
  *     its input, so a full-corpus fit at 100 TB is the index-build
  *     bottleneck. Centroid quality converges long before a percent of
  *     the corpus is seen, so the quantizer is fit on a seeded sample and
  *     only the single-pass cell ASSIGNMENT touches every vector.
  *   - centroids are a standing index: [[saveIndex]]/[[loadIndex]] persist
  *     the tiny (cell, center) table via [[LakeTable]], so repeat queries
  *     skip the build entirely and reuse one quantizer across jobs.
  *   - assignment is a broadcast cross-join + argmin over nCells
  *     distances — embarrassingly parallel, no shuffle of the corpus.
  */
object Ivf {

  /** Above this many collected fit points the Lloyd loop runs
    * distributed; at or below it the whole (sampled) fit set is pulled
    * to the driver ONCE and iterated locally — zero per-iteration Spark
    * actions. MLlib's own k-means|| does the same thing at its final
    * step (local k-means over the collected candidate set); the cap
    * bounds driver memory (points x dims doubles) and is a conf, not a
    * local-mode constant.
    */
  val DriverFitMaxPointsKey = "spark.graft.kmeans.driverFitMaxPoints"
  val DriverFitMaxPointsDefault = "16384"

  /** Fit the coarse quantizer (euclidean k-means, the standard IVF
    * metric) and return the tiny (cell, center) centroid table.
    *
    * FUSED Lloyd's loop, the [[Pq.fitCodebooks]] discipline, replacing
    * the previous MLlib `KMeans.fit` (k-means|| init passes plus
    * per-iteration collect/broadcast machinery — ~25-30 Spark jobs per
    * fit measured at bench scale; each extra pass is a full scan of the
    * sample at any scale). Two regimes:
    *   - fit sets at or below [[DriverFitMaxPointsKey]] points collect
    *     ONCE and iterate on the driver (one Spark action total; also
    *     the most deterministic shape — no partial-aggregation merge
    *     order in the means);
    *   - larger fit sets run `iters` distributed iterations of ONE
    *     assignment pass (a fused [[VectorFunctions.nearestCentroid]]
    *     argmin) plus one per-(cell, dim) mean — `iters + 2` passes over
    *     the sample, independent of k, only the k x d centroid matrix
    *     ever reaching the driver.
    * Both regimes: seeded hash-order init over distinct vectors; empty
    * cells keep their previous centroid; a corpus with fewer than k
    * distinct vectors pads the init by cycling (duplicate centroids
    * leave their extra cells empty — the strict-less argmin always picks
    * the lowest cell id, which both engines replay).
    */
  def fitCentroids(
      corpus: DataFrame,
      vecCol: String,
      nCells: Int = 16,
      seed: Long = 42L,
      sampleFraction: Double = 1.0,
      iters: Int = 10): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val base =
      if (sampleFraction < 1.0)
        corpus.sample(withReplacement = false, sampleFraction, seed)
      else corpus
    // widen once: float -> double is exact, and the mean/argmin loop
    // then runs in one numeric domain (the returned centers round back
    // to float exactly as before)
    val points = base
      .select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull)
      // each point's dimension and whether it holds a null element: both
      // regimes reject bad vectors before the Lloyd loop
      .select(col("v"), size(col("v")).as("dim"),
        exists(col("v"), _.isNull).as("hasNull"))
    val cap = math.max(nCells, spark.conf
      .get(DriverFitMaxPointsKey, DriverFitMaxPointsDefault).toInt)
    // one bounded probe decides the regime AND feeds the local fit: a
    // result within the cap IS the whole fit set
    val head = points.limit(cap + 1).collect()
    require(head.nonEmpty, "empty corpus")
    val mat: Array[Array[Double]] =
      if (head.length <= cap) {
        checkVectors(vecCol, head.map(_.getInt(1)).min, head.map(_.getInt(1)).max,
          head.exists(_.getBoolean(2)))
        fitLocal(head.map(_.getSeq[Double](0).toArray), nCells, seed, iters)
      } else fitDistributed(points, vecCol, nCells, seed, iters)
    mat.zipWithIndex.map { case (cvec, cell) =>
      (cell, cvec.map(_.toFloat))
    }.toSeq.toDF("cell", "center")
  }

  /** Fail fast, naming the column, on a fit set k-means cannot measure:
    * vectors of different dimensions, or a vector with a null element.
    */
  private def checkVectors(
      vecCol: String, minDim: Int, maxDim: Int, hasNull: Boolean): Unit = {
    require(minDim == maxDim,
      s"k-means needs vectors of one dimension, but column '$vecCol' holds " +
        s"vectors of dimension $minDim to $maxDim")
    require(!hasNull,
      s"k-means needs every vector element, but column '$vecCol' holds a " +
        "vector with a null element")
  }

  /** Driver-local Lloyd over the full (bounded) fit set — exactly
    * deterministic: fixed iteration order, no distributed reduction.
    */
  private def fitLocal(
      pts: Array[Array[Double]], k: Int, seed: Long, iters: Int): Array[Array[Double]] = {
    val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
    val uniq = pts.filter(p => seen.add(p.toIndexedSeq))
    // seeded hash order; hash collisions fall back to input order
    // (stable sort), which is itself deterministic
    val ordered = uniq.sortBy(p =>
      scala.util.hashing.MurmurHash3.orderedHash(p.toIndexedSeq, seed.toInt))
    val init = ordered.take(k)
    val mat: Array[Array[Double]] =
      if (init.length >= k) init.map(_.clone())
      else Array.tabulate(k)(i => init(i % init.length).clone())
    val dim = mat.head.length
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Long](k)
      pts.foreach { p =>
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          var d = 0.0
          var i = 0
          while (i < dim) { val t = p(i) - mat(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best)
        var i = 0
        while (i < dim) { s(i) += p(i); i += 1 }
        cnt(best) += 1
      }
      var c = 0
      while (c < k) {
        if (cnt(c) > 0) {
          var i = 0
          while (i < dim) { mat(c)(i) = sums(c)(i) / cnt(c); i += 1 }
        }
        c += 1
      }
      it += 1
    }
    mat
  }

  /** Distributed fused Lloyd — the scale regime: one assignment+mean
    * pass per iteration over the cached fit set.
    */
  private def fitDistributed(
      points: DataFrame, vecCol: String, nCells: Int, seed: Long,
      iters: Int): Array[Array[Double]] = {
    val cached = points.cache()
    try {
      val shape = cached.agg(min("dim"), max("dim"), max("hasNull")).head()
      checkVectors(vecCol, shape.getInt(0), shape.getInt(1), shape.getBoolean(2))
      val init = cached.dropDuplicates("v")
        .orderBy(xxhash64(col("v"), lit(seed)).asc)
        .limit(nCells)
        .collect()
        .map(_.getSeq[Double](0).toArray)
      require(init.nonEmpty, "empty corpus")
      val mat: Array[Array[Double]] =
        if (init.length >= nCells) init
        else Array.tabulate(nCells)(i => init(i % init.length).clone())
      val dim = mat.head.length
      var it = 0
      while (it < iters) {
        val means = cached
          .withColumn("cell", VectorFunctions.nearestCentroid(
            col("v"), mat.map(_.toIndexedSeq).toIndexedSeq))
          .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("cell"), col("dim"))
          .agg(avg(col("x")).as("c"))
          .collect()
        means.groupBy(_.getInt(0)).foreach { case (cell, rows) =>
          val cvec = new Array[Double](dim)
          rows.foreach(r => cvec(r.getInt(1)) = r.getDouble(2))
          mat(cell) = cvec
        }
        it += 1
      }
      mat
    } finally { cached.unpersist(); () }
  }

  /** Persist the centroid table as a standing index (a lake table of its
    * own — versioned, with commit history like any other table).
    */
  def saveIndex(centers: DataFrame, path: String): Unit =
    LakeTable(centers.sparkSession, path).write(centers)

  /** Load a standing index written by [[saveIndex]]. */
  def loadIndex(spark: SparkSession, path: String): DataFrame =
    LakeTable(spark, path).read

  /** Assign every vector its nearest-centroid cell (euclidean argmin —
    * the k-means assignment rule). The tiny centroid table is collapsed
    * into ONE projection expression (`array_min` over per-cell
    * (distance, cell) structs), so assignment is map-only: no join, no
    * shuffle, stays inside whole-stage codegen. A cross-join + window
    * argmin would shuffle |corpus| × nCells rows — the wrong shape for a
    * single narrow derived column at 100 TB.
    */
  def assignCells(df: DataFrame, centers: DataFrame, vecCol: String): DataFrame = {
    // nCells is small by construction (a coarse quantizer) — collecting
    // the centroid matrix is a few KB. The argmin runs as ONE fused
    // expression over a primitive matrix: nCells composed
    // euclidean(typedlit) columns would repeat the HyperplaneBuckets
    // codegen blowup (measured 6x slower at 64 cells × 64 dims).
    val local = centers.select(col("cell"), col("center")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    require(local.nonEmpty, "empty centroid index")
    // fail LOUDLY on an index/corpus dimension mismatch (e.g. a standing
    // index built for different embeddings): NearestCentroid nulls the
    // cell per malformed ROW, which is right for stray bad vectors but
    // would silently empty every downstream join if the whole corpus
    // disagrees with the index. One take(1) probe is a tiny job.
    val centDim = local.head._2.length
    df.select(size(col(vecCol)).as("d")).na.drop().limit(1).collect().foreach { r =>
      require(r.getInt(0) == centDim,
        s"corpus vectors are ${r.getInt(0)}-dim but the centroid index is $centDim-dim")
    }
    val pos = VectorFunctions.nearestCentroid(
      col(vecCol), local.map(_._2.toIndexedSeq).toIndexedSeq)
    // argmin yields a POSITION in the sorted matrix; translate to the
    // cell id so externally-built indexes with gaps still work
    df.withColumn("cell",
      element_at(typedlit(local.map(_._1).toIndexedSeq), pos + 1))
  }

  /** Top-k cosine neighbors per query via IVF probing.
    *
    * @param centers a standing index from [[fitCentroids]]/[[loadIndex]];
    *                when absent the quantizer is fit in-line on
    *                `buildSampleFraction` of the corpus
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L,
      buildSampleFraction: Double = 1.0,
      centers: Option[DataFrame] = None
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val idx = centers.getOrElse(
      fitCentroids(c, "n_vec", nCells, seed, buildSampleFraction))
    val assigned = assignCells(c, idx, "n_vec")

    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cdist").asc, col("cell").asc)
    val probes = q.crossJoin(broadcast(idx))
      .withColumn("cdist", -VectorFunctions.cosineSim(col("q_vec"), col("center")))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("cell"))

    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    assigned
      .join(broadcast(probes), Seq("cell"))
      .where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        VectorFunctions.cosineSim(col("q_vec"), col("n_vec")).as("cos"))
      .withColumn("rank", row_number().over(wTop).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVF-PQ composition — the standard large-scale ANN serving shape
    * (FAISS `IndexIVFPQ` + refine; Jégou et al. TPAMI'11 §V): coarse IVF
    * cells PRUNE the candidate set, ADC over PQ codes scores only rows in
    * the `nProbe` probed cells (compressed math, no full-width floats),
    * and exact cosine re-ranks only the per-query `shortlist`. Pure IVF
    * pays full-width float math on every probed row; pure PQ scans every
    * code row; the composition does neither.
    *
    * Scale shape: the resident serving set is (id, cell, codes) — a few
    * bytes per vector; raw vectors are touched only by the shortlist
    * fetch (a broadcast semi-join probe of |queries| x shortlist rows).
    * Both quantizers fit on seeded samples and persist as standing
    * indexes ([[saveIndex]], [[Pq.saveCodebooks]]).
    */
  /** The IVF-PQ serving set: (n_id, cell, codes) — one int + m small
    * codes per vector, both derived MAP-ONLY from standing quantizers.
    * Materialize once (a lake table in practice); every query then
    * touches only this narrow table plus a shortlist-sized probe of the
    * raw vectors.
    */
  def ivfPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centers: DataFrame,
      codebooks: DataFrame): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    Pq.encode(assignCells(c, centers, "n_vec"), codebooks, "n_vec")
      .select(col("n_id"), col("cell"), col("codes"))
  }

  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 64,
      nProbe: Int = 8,
      m: Int = 16,
      pqCells: Int = 16,
      shortlist: Int = 100,
      seed: Long = 42L,
      buildSampleFraction: Double = 1.0,
      centers: Option[DataFrame] = None,
      codebooks: Option[DataFrame] = None,
      index: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val idx = centers.getOrElse(
      fitCentroids(c, "n_vec", nCells, seed, buildSampleFraction))
    val books = codebooks.getOrElse(
      Pq.fitCodebooks(c, "n_vec", m, pqCells, seed, buildSampleFraction))
    val indexed = index.getOrElse(ivfPqIndex(corpus, idCol, vecCol, idx, books))

    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cdist").asc, col("cell").asc)
    val probes = q.crossJoin(broadcast(idx))
      .withColumn("cdist", -VectorFunctions.cosineSim(col("q_vec"), col("center")))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nProbe)
      .select(col("q_id"), col("cell"))

    val (tables, nPqCells) = Pq.adcTables(queries, books, idCol, vecCol)
    val wShort = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("n_id").asc)
    val cands = indexed
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(tables), Seq("q_id"))
      .where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        VectorFunctions.adcScore(col("tbl"), col("codes"), nPqCells).as("adc"))
      .withColumn("r", row_number().over(wShort))
      .where(col("r") <= shortlist)
      .select(col("q_id"), col("n_id"))

    val wTop = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    c.join(broadcast(cands), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        VectorFunctions.cosineSim(col("q_vec"), col("n_vec")).as("cos"))
      .withColumn("rank", row_number().over(wTop).cast("bigint"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }
}
