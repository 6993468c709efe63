package graft.engine

import graft.SparkSpec
import graft.ops.{IndexLifecycle, Ivf, Quantize, Similarity}
import org.apache.spark.JobLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

class TablesSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Tables.parquet must read the schema Spark's inference job would. */
  private def assertSameSchema(path: String): Unit =
    assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, path)

  private lazy val embeddings =
    Tables.read(spark, sf001, "embeddings").select("vec_id", "embedding").localCheckpoint(true)

  private def query(id: Long): DataFrame = embeddings.filter(col("vec_id") === id)

  private def pairs(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def cellDirs(table: String): Seq[String] =
    new java.io.File(table).list().toSeq.filter(_.startsWith("cell="))

  test("the footer schema equals the inferred schema on every sf0.01 table and both events.ts generations") {
    val catalog = new Catalog(spark, sf001)
    catalog.table("events") // sets the two parquet confs Tables.read owns
    val tables = catalog.listTables()
    assert(tables.size == 10, tables)
    tables.foreach(t => assertSameSchema(catalog.path(t)))
    // the testdata generation stores ts as micros-NTZ
    assert(catalog.table("events").schema("ts").dataType == TimestampType)

    // the other generation: INT64 TIMESTAMP(NANOS), written by parquet itself
    val dir = tmp("graft-tables-nanos")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    val out = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(out)
      .withType(schema).withConf(conf).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    val nanos = Seq(1700000000123456789L, 1700000001000000999L)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup().append("id", i.toLong).append("ts", ns))
    } finally writer.close()
    assertSameSchema(s"$dir/events.parquet")
    assert(Tables.parquet(spark, s"$dir/events.parquet").schema("ts").dataType == LongType)
    val ev = Tables.read(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.orderBy("id").select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq ==
      nanos.map(_ / 1000))
  }

  test("the footer schema equals the inferred schema on every index file kind") {
    val ivf = tmp("graft-tables-ivf")
    val pq = tmp("graft-tables-pq")
    val lsh = tmp("graft-tables-lsh")
    Ivf.buildIndex(embeddings, "vec_id", "embedding", ivf, maxIter = 5)
    Quantize.buildPqIndex(embeddings, "vec_id", "embedding", pq)
    Similarity.buildLshIndex(embeddings, "vec_id", "embedding", lsh)
    val doomed = embeddings.filter(col("vec_id") < 3).select("vec_id")
    Seq(ivf, pq, lsh).foreach(d =>
      IndexLifecycle.removeIds(spark, d, doomed, "vec_id", tombstone = true))
    val kinds = Seq(ivf, pq, lsh).flatMap { root =>
      val gen = IndexLifecycle.resolveIndexDir(spark, root)
      val files = new java.io.File(gen).list().toSeq.filter(_.endsWith(".parquet"))
      files.foreach { f =>
        val path = if (f == "deletes.parquet")
          IndexLifecycle.resolvePointer(spark, s"$gen/$f").get else s"$gen/$f"
        assertSameSchema(path)
      }
      files
    }.toSet
    assert(Set("centroids", "books", "meta", "postings", "vectors", "deletes",
      "invfile", "codes").map(_ + ".parquet").subsetOf(kinds), kinds)
    // a subset of a partitioned table's cell dirs keeps the cell column
    val inv = s"${IndexLifecycle.resolveIndexDir(spark, ivf)}/invfile.parquet"
    val two = cellDirs(inv).sorted.take(2).map(d => s"$inv/$d")
    assert(Tables.partitions(spark, inv, two).schema ==
      spark.read.option("basePath", inv).parquet(two: _*).schema)
    assert(Tables.partitions(spark, inv, two).select("cell").distinct().count() == 2)
  }

  test("catalog.table launches no job; single-query IVF and PQ probes launch no parquet listing or inference job") {
    val catalog = new Catalog(spark, sf001)
    catalog.listTables().foreach { t =>
      val (_, jobs) = JobLog.stageNames(spark.sparkContext)(catalog.table(t))
      assert(jobs.isEmpty, s"catalog.table($t) launched $jobs")
    }
    val ivf = tmp("graft-tables-ivfjobs")
    val pq = tmp("graft-tables-pqjobs")
    Ivf.buildIndex(embeddings, "vec_id", "embedding", ivf, maxIter = 5)
    Quantize.buildPqIndex(embeddings, "vec_id", "embedding", pq)
    val inv = s"${IndexLifecycle.resolveIndexDir(spark, ivf)}/invfile.parquet"
    val codes = s"${IndexLifecycle.resolveIndexDir(spark, pq)}/codes.parquet"
    // past 32 paths Spark lists a table's dirs in a job
    assert(cellDirs(inv).size >= 33 && cellDirs(codes).size >= 33,
      s"${cellDirs(inv).size} / ${cellDirs(codes).size} cell dirs")
    def parquetJobs(jobs: Seq[Seq[String]]) = jobs.filter(_.exists(_.startsWith("parquet at")))
    // negative control: the listener sees the listing job of a whole-table read
    val (_, whole) = JobLog.stageNames(spark.sparkContext)(spark.read.parquet(inv))
    assert(parquetJobs(whole).nonEmpty, whole)
    val (ivfRows, ivfJobs) = JobLog.stageNames(spark.sparkContext)(
      Ivf.probeIndex(spark, ivf, "vec_id", "embedding", query(0), "embedding", k = 5).collect())
    assert(ivfRows.length == 5 && parquetJobs(ivfJobs).isEmpty, ivfJobs)
    val (pqRows, pqJobs) = JobLog.stageNames(spark.sparkContext)(
      Quantize.probePqIndex(spark, pq, "vec_id", "embedding", query(0), "embedding", k = 5).collect())
    assert(pqRows.length == 5 && parquetJobs(pqJobs).isEmpty, pqJobs)
  }

  test("a probe whose probed cell has no dir, and a probe that comes up short, equal brute force") {
    val q = query(7)
    val qVec = q.select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val ivf = tmp("graft-tables-ivfgap")
    val pq = tmp("graft-tables-pqgap")
    Ivf.buildIndex(embeddings, "vec_id", "embedding", ivf, maxIter = 5)
    Quantize.buildPqIndex(embeddings, "vec_id", "embedding", pq)
    val probes: Seq[(String, String, (Int, Int) => DataFrame)] = Seq(
      ("ivf", s"${IndexLifecycle.resolveIndexDir(spark, ivf)}/invfile.parquet",
        (k, nprobe) => Ivf.probeIndex(spark, ivf, "vec_id", "embedding", q, "embedding", k, nprobe)),
      ("pq", s"${IndexLifecycle.resolveIndexDir(spark, pq)}/codes.parquet",
        // a rerank past the corpus size makes the ADC shortlist every probed row
        (k, nprobe) => Quantize.probePqIndex(spark, pq, "vec_id", "embedding", q, "embedding",
          k, nprobe, rerank = 1000)))
    probes.foreach { case (kind, table, probe) =>
      val cells = Ivf.loadIndexModel(spark, if (kind == "ivf") ivf else pq).probedCells(qVec, 4)
      val gone = cells.head
      val goneDir = new java.io.File(s"$table/cell=$gone")
      assert(goneDir.isDirectory, s"$kind: probed cell $gone has no dir to remove")
      val goneIds = Tables.parquet(spark, goneDir.toString).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      org.apache.commons.io.FileUtils.deleteDirectory(goneDir)
      val corpus = Tables.parquet(spark, table)
      val probedRest = corpus.filter(col("cell").isin(cells.tail.map(Integer.valueOf): _*))
      assert(probedRest.count() >= 5, s"$kind: the other probed cells hold under 5 rows")
      assert(corpus.filter(col("cell") === cells.head).count() == 0L)
      val gap = pairs(probe(5, 4))
      assert(gap.size == 5 && gap.forall(p => !goneIds(p._1)), s"$kind: $gap")
      assert(gap == pairs(Similarity.bruteForceTopK(probedRest, "vec_id", "embedding",
        q, "embedding", 5)), kind)
      // one probed cell holds far fewer than k rows: the exact scan answers
      val short = pairs(probe(60, 1))
      assert(short.size == 60, s"$kind: ${short.size} rows")
      assert(short == pairs(Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        q, "embedding", 60)), kind)
    }
  }
}
