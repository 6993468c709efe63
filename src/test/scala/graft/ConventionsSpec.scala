package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source conventions of `src/main` that no single file shows. Each scan
  * is a function over (path, text) pairs, run on the real tree and, as its
  * negative control, on a planted violation. */
class ConventionsSpec extends AnyFunSuite {

  private val mainRoot = java.nio.file.Paths.get("src/main/scala")

  private lazy val mainSources: Seq[(String, String)] = {
    assert(java.nio.file.Files.isDirectory(mainRoot), s"no $mainRoot under ${sys.props("user.dir")}")
    val walk = java.nio.file.Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  /** Every place a SparkListener is defined, as "path:line". */
  def listenerDefinitions(sources: Seq[(String, String)]): Seq[String] = {
    val definition = """\b(?:new|extends|with)\s+(?:[\w.]*\.)?SparkListener\b""".r
    for {
      (path, text) <- sources
      m <- definition.findAllMatchIn(text)
    } yield s"$path:${text.take(m.start).count(_ == '\n') + 1}"
  }

  /** The qualified name of every object that defines `def main`. */
  def mainObjects(sources: Seq[(String, String)]): Seq[String] = {
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """\bobject\s+(\w+)""".r
    for {
      (_, text) <- sources
      m <- """\bdef\s+main\s*\(""".r.findAllMatchIn(text)
    } yield {
      val owner = obj.findAllMatchIn(text.take(m.start)).map(_.group(1)).toSeq.lastOption
      (pkg.findFirstMatchIn(text).map(_.group(1)).toSeq ++ owner).mkString(".")
    }
  }

  /** Every filesystem rename (`.rename(` or `Files.move`) in the index
    * code under `graft/ops`, as "path:line". Each index verb publishes
    * a new generation and flips a commit pointer; a rename of live data
    * is atomic only on HDFS and local disk. */
  def renameCalls(sources: Seq[(String, String)]): Seq[String] = {
    val call = """\.rename\(|\bFiles\.move\b""".r
    for {
      (path, text) <- sources if path.replace('\\', '/').contains("graft/ops/")
      m <- call.findAllMatchIn(text)
    } yield s"$path:${text.take(m.start).count(_ == '\n') + 1}"
  }

  /** Every MLlib KMeans construction as "File.scala:enclosingDef". A
    * quantizer fit goes through Ivf.trainCentroids' gate: under it the
    * driver fits, above it the one distributed arm does. */
  def kmeansConstructions(sources: Seq[(String, String)]): Seq[String] = {
    val definition = """\bdef\s+(\w+)""".r
    for {
      (path, text) <- sources
      m <- """\bnew\s+(?:[\w.]*\.)?KMeans\b""".r.findAllMatchIn(text)
    } yield {
      val owner = definition.findAllMatchIn(text.take(m.start)).map(_.group(1)).toSeq.lastOption
      s"${path.replace('\\', '/').split('/').last}:${owner.getOrElse("")}"
    }
  }

  /** Every raw parquet read (`.read.parquet(`, options between them
    * included) outside `engine/Tables.scala`, as "path:line".
    * `Tables.parquet` is the one load path: it reads the schema from
    * one footer on the driver instead of launching Spark's inference
    * job. */
  def rawParquetReads(sources: Seq[(String, String)]): Seq[String] = {
    val read = """\.read\s*(?:\.\w+\([^()]*\)\s*)*\.parquet\(""".r
    for {
      (path, text) <- sources if !path.replace('\\', '/').endsWith("graft/engine/Tables.scala")
      m <- read.findAllMatchIn(text)
    } yield s"$path:${text.take(m.start).count(_ == '\n') + 1}"
  }

  /** The programs `src/main` may hold, each with why it stays. */
  val AllowedMains: Map[String, String] = Map(
    "graft.Bench" -> "the 157-query noop-sink bench and its floors",
    "graft.Verify" -> "the correctness dump the DuckDB oracle compares",
    "graft.Demo" -> "the submit → status → preview → export walk-through",
    "graft.streaming.StreamingDemo" -> "streaming equals batch on the events table",
    "graft.tools.ScaleBench" -> "the x1–x25 scale rungs of the hot operator families",
    "graft.tools.Scale100" -> "the x100/x400 rungs of the headline columns",
    "graft.tools.CurationScale" -> "the scale rungs of the c24 curation compositions",
    "graft.tools.LifecycleSweep" -> "the scale rungs of the index lifecycle verbs",
    "graft.tools.PlanDump" -> "the formatted-plan dumps under plans/")

  test("src/main defines exactly one SparkListener: the shared rung helper") {
    val found = listenerDefinitions(mainSources)
    assert(found.size == 1 && found.head.contains("tools/ScaleBench.scala"), found)
    // negative control: a second, hand-rolled listener is caught
    val planted = mainSources :+ ("tools/Profile.scala" ->
      "object Profile {\n  val l = new org.apache.spark.scheduler.SparkListener {}\n}")
    assert(listenerDefinitions(planted).size == 2)
    // the listener's event types are not definitions
    assert(listenerDefinitions(Seq("x.scala" -> "def f(e: SparkListenerTaskEnd) = ()")).isEmpty)
  }

  test("the index code under graft/ops renames no file: every replace is a generation commit") {
    assert(renameCalls(mainSources).isEmpty, renameCalls(mainSources))
    // negative control: a planted rename swap and a planted move are caught
    val planted = mainSources ++ Seq(
      "src/main/scala/graft/ops/Swap.scala" ->
        "object Swap {\n  def f(fs: FileSystem) = fs.rename(tmp, live)\n}",
      "src/main/scala/graft/ops/Move.scala" ->
        "object Move {\n  def f() = java.nio.file.Files.move(a, b)\n}")
    assert(renameCalls(planted) ==
      Seq("src/main/scala/graft/ops/Swap.scala:2", "src/main/scala/graft/ops/Move.scala:2"))
    // the scan is scoped to the index code
    assert(renameCalls(Seq("src/main/scala/graft/tools/X.scala" -> "fs.rename(a, b)")).isEmpty)
  }

  test("MLlib KMeans is built only in Ivf's distributed fit arm") {
    assert(kmeansConstructions(mainSources) == Seq("Ivf.scala:fitMllib"),
      kmeansConstructions(mainSources))
    // negative control: a planted fit that skips the gate is caught
    val planted = mainSources :+ ("src/main/scala/graft/ops/Cluster.scala" ->
      "object Cluster {\n  def fit(df: DataFrame) = new org.apache.spark.ml.clustering.KMeans().setK(8).fit(df)\n}")
    assert(kmeansConstructions(planted).toSet -- Set("Ivf.scala:fitMllib") == Set("Cluster.scala:fit"))
  }

  test("every parquet read in src/main goes through Tables") {
    assert(rawParquetReads(mainSources).isEmpty, rawParquetReads(mainSources))
    // negative control: a planted raw read, with and without options, is caught
    val planted = mainSources ++ Seq(
      "src/main/scala/graft/ops/Raw.scala" ->
        "object Raw {\n  def f(spark: SparkSession) = spark.read.parquet(p)\n}",
      "src/main/scala/graft/tools/Opt.scala" ->
        "object Opt {\n  def f(spark: SparkSession) =\n    spark.read\n      .option(\"basePath\", r).parquet(p)\n}")
    assert(rawParquetReads(planted) ==
      Seq("src/main/scala/graft/ops/Raw.scala:2", "src/main/scala/graft/tools/Opt.scala:3"))
    // Tables itself is the one place a raw read may sit
    assert(rawParquetReads(Seq("src/main/scala/graft/engine/Tables.scala" ->
      "spark.read.parquet(p)")).isEmpty)
  }

  test("every program in src/main is on the allowlist") {
    val mains = mainObjects(mainSources)
    assert(mains.toSet == AllowedMains.keySet,
      s"unlisted: ${mains.toSet -- AllowedMains.keySet}, " +
        s"listed but gone: ${AllowedMains.keySet -- mains.toSet}")
    // negative control: a new one-off tool is caught
    val planted = mainSources :+ ("tools/OneOff.scala" ->
      "package graft.tools\nobject OneOff {\n  def main(args: Array[String]): Unit = ()\n}")
    assert(mainObjects(planted).toSet -- AllowedMains.keySet == Set("graft.tools.OneOff"))
  }
}
