package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.engine.Tables

/** Scale rung for the COMPOSITION pipelines (r18 verdict #4): the c24
  * curation family composes primitives that each carry 100–400× direct
  * evidence, but the compositions themselves were measured only to 25× —
  * and compositions are where checkpoint pressure and repeated eager
  * gates could stack nonlinearly (the x100 session-composition
  * precedent in PERF.md, reading (b): compact read 35.8 s for stages
  * summing to 5.2 s under sibling checkpoint pressure; the deleted
  * CompactProfile: `git show 2262a09:src/main/scala/graft/tools/CompactProfile.scala`).
  *
  * Runs the three deepest compositions EXACTLY as the bench/driver run
  * them — through `SparkEntry.queries` on a scaled table dir, so the
  * measured plan is the product plan, not a re-derivation:
  *  - c24_curation_v5: 3-rule decontamination union (n-gram + semantic
  *    + winnow substring) → one count-gated removal → quality filter;
  *  - c24_curation_v7: decon → per-lang LM NLL terciles (drop tail) →
  *    temperature rebalance;
  *  - c24_curation_v9: decon → per-lang prototype scores → grouped
  *    rank tercile → rebalance.
  * Per-stage attribution via the Scale100 listener discipline (top
  * stages by executor run time, plus GC fraction and spill), so any
  * bending rung names its stage.
  *
  * Also measures the EAGER-GATE COMPOSE cost (r18 verdict #6):
  * [[Dedup.jaccardNearDup]] runs 2–4 Spark jobs at plan-COMPOSE time
  * (the sig checkpoint + stats agg; + the prefix-df pass when maxDf is
  * absent). A caller building N variant plans pays N× that before any
  * execution. Timed here compose-ONLY (the returned frame is dropped
  * unexecuted), 3 composes per shape per rung.
  *
  * Scaled corpora: [[ScaleBench.scaled]]/[[ScaleBench.scaledEmb]] under
  * /tmp/graft_scale_x{k} (shared with Scale100; built if missing).
  * Replica 0 keeps the original ids, so the `doc_id < 50` bench window
  * the c24 queries split on stays FIXED while the corpus grows — the
  * decontamination scaling story a real pipeline has.
  *
  * Run: sbt "runMain graft.tools.CurationScale"
  * (SPARK_GRAFT_KS default "25,100"; SPARK_GRAFT_CPUS default 32)
  */
object CurationScale {

  def main(args: Array[String]): Unit = {
    val ks = ScaleBench.rungs("25,100")
    // shuffle partitions scale with the rung (Scale100's rule: size
    // partitions to fit executor memory at the target SF)
    val spark = ScaleBench.session(sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", ScaleBench.cpus))

    val base = graft.engine.Tables.read(spark, "/root/testdata/sf0.1", "documents")
    val baseEmb = graft.engine.Tables.read(spark, "/root/testdata/sf0.1", "embeddings")

    def timeIt[T](body: => T): (Double, T) = {
      val t0 = System.nanoTime(); val out = body
      ((System.nanoTime() - t0) / 1e9, out)
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val queries = graft.SparkEntry.queries
    // SPARK_GRAFT_CUR=v9 runs ONE composition lean (the Scale100 family
    // sections' lesson: sibling checkpoints contaminate the deepest rung
    // — v9's first x100 read 58% GC in the shared session); "compose"
    // runs only the compose-cost rows
    val sel = sys.env.getOrElse("SPARK_GRAFT_CUR", "all")
    val family = Seq("c24_curation_v5", "c24_curation_v7", "c24_curation_v9")
      .filter(n => sel == "all" || n.endsWith(sel))
    val doCompose = sel == "all" || sel == "compose"

    // warm codegen untimed on the base dir (ScaleBench's rule)
    family.foreach(n => noop(queries(n)(spark, "/root/testdata/sf0.01")))

    for (k <- ks) {
      val dir = s"/tmp/graft_scale_x$k"
      if (!new java.io.File(s"$dir/documents.parquet").exists())
        ScaleBench.scaled(base, k).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
      if (!new java.io.File(s"$dir/embeddings.parquet").exists())
        ScaleBench.scaledEmb(baseEmb, k).write.mode("overwrite")
          .parquet(s"$dir/embeddings.parquet")
      val nDocs = Tables.parquet(spark, s"$dir/documents.parquet").count()

      for (name <- family) {
        var wall = 0.0
        val m = ScaleBench.withTaskMetrics(spark) {
          val (t, _) = timeIt(noop(queries(name)(spark, dir)))
          wall = t
        }
        m.printTopStages("cur-stage", s"x$k $name", 6)
        println(f"[cur] x$k%-3d docs=$nDocs%7d $name%-18s " +
          f"wall=$wall%7.2fs gc=${m.gcFraction * 100}%4.1f%% run=${m.runMs.get() / 1000L}s " +
          f"spill=${m.spillDiskBytes.get() >> 20}MB")
      }

      // eager-gate compose-ONLY cost (verdict #6): plan built, never
      // executed. maxDf present = 2 eager jobs (sig checkpoint + stats
      // agg); absent = +prefix-df pass + hot-key count
      val docs = Tables.parquet(spark, s"$dir/documents.parquet")
      for (shape <- Seq("maxDf" -> Some(100), "noMaxDf" -> None) if doCompose) {
        val walls = (1 to 3).map { _ =>
          timeIt(Dedup.jaccardNearDup(docs, "doc_id", "text",
            n = 3, threshold = 0.6, maxDf = shape._2))._1
        }
        println(f"[cur] x$k%-3d composeOnly jaccardNearDup(${shape._1}%-7s) " +
          walls.map(w => f"$w%6.2fs").mkString(" "))
      }
    }
    spark.stop()
  }
}
