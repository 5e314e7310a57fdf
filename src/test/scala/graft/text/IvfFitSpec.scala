package graft.text

import graft.SparkSpec

/** `Ivf.fitCentroids` rejects a fit set k-means cannot measure with a
  * named error, in the driver-local and in the distributed regime.
  */
class IvfFitSpec extends SparkSpec {
  import spark.implicits._

  private val regimes = Seq("local" -> "16384", "distributed" -> "2")

  private def fitError(vecs: Seq[Seq[java.lang.Float]], cap: String): String = {
    val df = vecs.map(Tuple1(_)).toDF("emb")
    spark.conf.set(Ivf.DriverFitMaxPointsKey, cap)
    try intercept[IllegalArgumentException] {
      Ivf.fitCentroids(df, "emb", nCells = 2, iters = 2)
    }.getMessage
    finally spark.conf.unset(Ivf.DriverFitMaxPointsKey)
  }

  private def f(xs: Float*): Seq[java.lang.Float] = xs.map(Float.box)

  test("ragged vectors fail with a named dimension error in both regimes") {
    val ragged = Seq(f(1f, 2f), f(3f, 4f), f(5f, 6f, 7f), f(8f, 9f), f(1f, 1f))
    regimes.foreach { case (regime, cap) =>
      val msg = fitError(ragged, cap)
      assert(msg.contains("'emb'") && msg.contains("dimension 2 to 3"), s"$regime: $msg")
    }
  }

  test("a null vector element fails with a named error in both regimes") {
    val holed = Seq(f(1f, 2f), f(3f, 4f), Seq[java.lang.Float](5f, null), f(8f, 9f), f(1f, 1f))
    regimes.foreach { case (regime, cap) =>
      val msg = fitError(holed, cap)
      assert(msg.contains("'emb'") && msg.contains("null element"), s"$regime: $msg")
    }
  }

  test("well-formed vectors still fit in both regimes") {
    // two distinct points: both regimes seed one cell on each
    val pts = (0 until 40).map(i => if (i % 2 == 0) f(0f, 0f) else f(10f, -5f))
    regimes.foreach { case (regime, cap) =>
      spark.conf.set(Ivf.DriverFitMaxPointsKey, cap)
      val centers =
        try Ivf.fitCentroids(pts.map(Tuple1(_)).toDF("emb"), "emb", nCells = 2, iters = 3)
          .collect().map(_.getSeq[Float](1)).toSet
        finally spark.conf.unset(Ivf.DriverFitMaxPointsKey)
      assert(centers === Set(Seq(0f, 0f), Seq(10f, -5f)), regime)
    }
  }
}
