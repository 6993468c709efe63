package graft.ops

import graft.SparkSpec

/** The driver k-means fit ([[Ivf.fitOnDriver]]) that every quantizer
  * trains through under the driver-fit gate, held against MLlib's
  * distributed fit ([[Ivf.fitMllib]]) on the same points. */
class DriverFitSpec extends SparkSpec {
  import spark.implicits._

  private def sse(points: Array[Array[Double]], centres: Array[Array[Double]]): Double =
    points.map(p => centres.map(c => p.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum).min).sum

  private def frame(points: Array[Array[Double]]) =
    points.toSeq.map(_.toSeq).toDF("v").select($"v".as(Ivf.TrainCol))

  private def blobs(seed: Int, centres: Int, perCentre: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    (0 until centres).flatMap { _ =>
      val c = Array.fill(dim)(rnd.nextGaussian())
      Seq.fill(perCentre)(c.map(_ + 0.1 * rnd.nextGaussian()))
    }.toArray
  }

  private def embeddings(dir: String): Array[Array[Double]] =
    graft.engine.Tables.read(spark, dir, "embeddings").select("embedding")
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)

  test("driver fit SSE is within 1.05x of MLlib's on sf0.01 embeddings and planted blobs") {
    val cases = Seq(
      ("sf0.01 embeddings k=16", embeddings(sf001), 16),
      ("sf0.01 embeddings k=cellsForSearch", embeddings(sf001), 0),
      ("20 planted blobs k=20", blobs(5, 20, 30, 32), 20),
      ("8 planted blobs k=16", blobs(6, 8, 50, 16), 16))
    for ((name, points, k0) <- cases) {
      val k = if (k0 > 0) k0 else Ivf.cellsForSearch(points.length)
      val driver = sse(points, Ivf.fitOnDriver(points, k, 42L, 10))
      val mllib = sse(points, Ivf.fitMllib(frame(points), Ivf.TrainCol, k, 42L, 10))
      assert(driver <= 1.05 * mllib, s"$name: driver SSE $driver vs MLlib $mllib")
    }
  }

  test("driver fit: the same seed gives bit-identical centroids, through the collect too") {
    val points = embeddings(sf001)
    val a = Ivf.fitOnDriver(points, 16, 7L, 10)
    val b = Ivf.fitOnDriver(points, 16, 7L, 10)
    assert(a.length == 16 && a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    val emb = graft.engine.Tables.read(spark, sf001, "embeddings")
    val t1 = Ivf.trainCentroids(emb, "embedding", 16, seed = 7L)
    val t2 = Ivf.trainCentroids(emb, "embedding", 16, seed = 7L)
    assert(t1.map(_.toSeq).toSeq == t2.map(_.toSeq).toSeq)
  }

  test("driver fit: fewer distinct points than k returns no duplicate and no NaN centroid") {
    val distinct = Array.tabulate(5)(i => Array.fill(4)(i.toDouble))
    val points = Array.tabulate(60)(i => distinct(i % 5).clone())
    for (seed <- Seq(1L, 42L)) {
      val c = Ivf.fitOnDriver(points, 8, seed, 10)
      assert(c.length == 5, s"got ${c.length} centres")
      assert(c.map(_.toSeq).distinct.length == c.length && !c.exists(_.exists(_.isNaN)))
    }
    // a constant subspace through PQ training: one code, never k copies
    val df = Seq.tabulate(40)(i =>
      (i.toLong, Array.tabulate(8)(d => if (d < 4) 0.0f else (i * d % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val cb = Quantize.trainPq(df, "embedding", m = 2, k = 16, seed = 3L)
    assert(cb.books(0).length == 1)
    for (book <- cb.books)
      assert(book.map(_.toSeq).distinct.length == book.length && !book.exists(_.exists(_.isNaN)))
  }
}
