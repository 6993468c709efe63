package graft.ops

import graft.SparkSpec

/** The index protocol on stores whose rename is COPY-then-DELETE (the
  * stock S3A/GCS/ABFS connectors): a rename torn mid-copy there serves a
  * silently PARTIAL world, so the protocol renames nothing — every
  * replace writes a complete new generation and flips a commit pointer
  * with one conditional create (ConventionsSpec pins the absence of
  * renames). What remains is the flip's one crash window, between the
  * generation write and the commit, pinned here. */
class NonAtomicRenameSpec extends SparkSpec {
  import spark.implicits._

  /** A 4-file artifact as a generation root: generation + commit,
    * nothing at the root but the marker/commit/generation entries. */
  private def pointerFixture(): (String, org.apache.spark.sql.DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_nar_ptr").toString
    val path = s"$dir/art.parquet"
    IndexLifecycle.initPointerRoot(spark, path)
    IndexLifecycle.swapInParquet(spark, path)(
      spark.range(0, 100).toDF("id").repartition(4))
    (path, spark.range(100, 200).toDF("id").repartition(4))
  }

  private def readPtrIds(path: String): Set[Long] = {
    val phys = IndexLifecycle.resolvePointer(spark, path)
      .getOrElse(fail(s"generation root $path has no committed generation"))
    spark.read.parquet(phys).as[Long].collect().toSet
  }

  test("a crash between generation write and commit leaves readers on exactly the old world; the retry lands the new") {
    val (path, fresh) = pointerFixture()
    // simulate the one crash window the flip protocol has: a COMPLETE
    // generation written, the commit never created — the old world is
    // still fully committed
    fresh.write.parquet(s"$path/gen-orphan0000")
    assert(readPtrIds(path) == (0L until 100L).toSet,
      "an uncommitted generation must be invisible to readers")
    // the retried swap commits a fresh generation and GCs the orphan
    IndexLifecycle.swapInParquet(spark, path)(fresh)
    assert(readPtrIds(path) == (100L until 200L).toSet)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val leftovers = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(_.startsWith("gen-"))
    assert(leftovers.length == 1,
      s"GC after the flip should leave exactly the live generation, got: ${leftovers.mkString(",")}")
    assert(!leftovers.contains("gen-orphan0000"))
  }
}
