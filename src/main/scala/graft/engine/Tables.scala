package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The one parquet load path of the engine, plus the star-schema loader.
  *
  * Some driver generations store `events.ts` as parquet INT64
  * TIMESTAMP(NANOS), which Spark's vectorized reader rejects outright
  * ([PARQUET_TYPE_ILLEGAL]). We read nanos as a plain long
  * (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to
  * microseconds — exactly what DuckDB does when it casts timestamp_ns to
  * its native microsecond timestamp, so oracle comparisons agree. The
  * conversion is a pure projection (no shuffle, codegen'd) and the scan
  * itself stays vectorized with pushdown intact for all other columns.
  *
  * Other generations store `ts` as TIMESTAMP(MICROS, isAdjustedToUTC =
  * false), which Spark ≥3.4 infers as TIMESTAMP_NTZ — a type `unix_micros`
  * and the streaming watermark paths reject. NTZ inference is disabled so
  * the column reads as the session type (LTZ) carrying the RAW stored
  * micros — bit-identical to the nanos-truncation path above and to
  * DuckDB's `epoch_us`, with no session-timezone reinterpretation (an
  * NTZ→LTZ `cast` would shift the epoch by the session offset instead).
  */
object Tables {

  /** The normalization tail both formats share: a LongType `ts` column
    * is raw nanos (the nanosAsLong read) — truncate to micros.
    * Integer div truncates toward zero == duckdb's ns→us truncation. */
  private[engine] def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None => df
    }

  def read(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    normalizeTs(parquet(s, s"$dir/$name.parquet"))
  }

  /** ORC registry tables load through the SAME normalization tail (the
    * load-only-via-Tables rule applies to every format the Catalog
    * serves). The two parquet confs are parquet-reader-specific; graft's
    * ORC tables are engine-written from already-normalized frames
    * (CatalogSpec round-trip), and a raw long `ts` still truncates
    * identically here. */
  def readOrc(s: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(s.read.orc(s"$dir/$name.orc"))

  /** `spark.read.parquet(paths: _*)` without its schema-inference job:
    * the schema comes from the footer of the first data file, read on
    * the driver (row groups skipped) and converted by the functions
    * Spark's own inference job runs, under the session's parquet confs.
    * Partition columns still come from Spark's partition discovery.
    * With no data file under `paths` the plain read runs, so a missing
    * path fails as before. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    withFooterSchema(spark, spark.read, paths)

  /** The partition dirs `dirs` of the partitioned table at `root`, read
    * as [[parquet]] with `root` as the partition base path: Spark lists
    * only `dirs`, and the partition columns still come from their
    * names. */
  def partitions(spark: SparkSession, root: String, dirs: Seq[String]): DataFrame =
    withFooterSchema(spark, spark.read.option("basePath", root), dirs)

  private def withFooterSchema(spark: SparkSession, reader: DataFrameReader,
                               paths: Seq[String]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    paths.iterator.flatMap(p => firstDataFile(new Path(p), conf)).nextOption() match {
      case None => reader.parquet(paths: _*)
      case Some(file) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        reader.schema(schema).parquet(paths: _*)
    }
  }

  /** The first data file at or under `p`, skipping the `_*`/`.*` names
    * Spark's listing skips and descending only into `k=v` partition
    * dirs; None when `p` is missing or holds no data file. */
  private def firstDataFile(p: Path, conf: Configuration): Option[FileStatus] = {
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val st = fs.getFileStatus(p)
      if (st.isFile) Some(st)
      else {
        val kids = fs.listStatus(p).filterNot { k =>
          val n = k.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }.sortBy(_.getPath.getName)
        kids.find(_.isFile).orElse(kids.iterator
          .filter(k => k.isDirectory && k.getPath.getName.contains('='))
          .flatMap(k => firstDataFile(k.getPath, conf)).nextOption())
      }
    }
  }
}
