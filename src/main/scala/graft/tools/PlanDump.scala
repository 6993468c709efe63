// scratch plan dumper: writes .explain("formatted") for a list of queries
// to <outDir>/<query>_<tag>.txt (the r21 plans/ deliverable). Usage:
//   sbt "runMain graft.tools.PlanDump <outDir> <tag> <q1,q2,...> [sfDir]"
package graft.tools
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = ScaleBench.session(ScaleBench.cpus)
    new java.io.File(outDir).mkdirs()
    val unknown = names.toSet -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
