package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.{IndexLifecycle, Ivf}

/** Scale rung for POINTER-MODE lifecycle verbs (r20): the generation
  * flip trades in-place surgical writes for immutable publishes — the
  * flip itself is one conditional create (free), but pointer-mode
  * compaction COPIES untouched cells into the new generation and a
  * rebuild GC deletes a corpus-sized old generation. On object stores
  * the copy is server-side (metadata-priced); on local disk it streams
  * bytes — this sweep measures the LOCAL (worst-case) cost against the
  * in-place verbs on the same corpus, so the trade's scaling shape is a
  * number, not a guess.
  *
  * Per rung k (corpus = scaledEmb(x k)): build, probe, tombstone
  * remove, compact, rebuild — pointer root vs plain dir, wall seconds.
  *
  * Run: sbt "runMain graft.tools.PtrSweep"
  * (SPARK_GRAFT_KS default "25,100"; SPARK_GRAFT_CPUS default 32) */
object PtrSweep {

  def main(args: Array[String]): Unit = {
    val ks = ScaleBench.rungs("25,100")
    val spark = ScaleBench.session(ScaleBench.cpus)

    val baseEmb = graft.engine.Tables.read(spark, "/root/testdata/sf0.1", "embeddings")

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    for (k <- ks) {
      val dir = s"/tmp/graft_scale_x$k"
      if (!new java.io.File(s"$dir/embeddings.parquet").exists())
        ScaleBench.scaledEmb(baseEmb, k).write.mode("overwrite")
          .parquet(s"$dir/embeddings.parquet")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding").localCheckpoint(true)
      val n = emb.count()
      val query = emb.filter(col("vec_id") === 1)
      // victims: a scattered 500-id batch (finding 32's shape)
      val victims = emb.sample(withReplacement = false, math.min(1.0, 600.0 / n), 7)
        .limit(500).select("vec_id").localCheckpoint(true)

      def sweep(tag: String, root: String,
                build: String => Unit): Unit = {
        val fs = new java.io.File(root)
        def rm(): Unit = { // fresh world per arm
          def del(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(del))
            f.delete()
          }
          del(fs)
          // ADVICE r20 (low): every `root.__*` sibling too — a stale
          // __old/__rebuild from a previously crashed sweep would leak
          // into the plain arm's recovery logic and skew the numbers the
          // pointer comparison is priced against
          Option(fs.getParentFile.listFiles()).foreach(_.foreach { f =>
            if (f.getName.startsWith(fs.getName + ".__")) del(f)
          })
        }
        rm()
        val tBuild = timed(build(root))
        def probe(): Unit =
          Ivf.probeIndex(spark, root, "vec_id", "embedding", query,
            "embedding", k = 10).collect()
        probe() // warm
        val tProbe = (1 to 3).map(_ => timed(probe())).min
        val tRemove = timed(IndexLifecycle.removeIds(spark, root, victims,
          "vec_id", tombstone = true))
        val tCompact = timed(IndexLifecycle.compactIndex(spark, root))
        val tRebuild = timed(IndexLifecycle.rebuildIndex(spark, root))
        println(f"[ptr] x$k%-3d rows=$n%8d $tag%-7s build=$tBuild%7.1fs " +
          f"probe=$tProbe%6.3fs remove500=$tRemove%6.2fs " +
          f"compact=$tCompact%7.2fs rebuild=$tRebuild%7.1fs")
      }

      sweep("plain", s"/tmp/graft_ptrsweep_x${k}_plain/idx",
        r => { Ivf.buildIndex(emb, "vec_id", "embedding", r, maxIter = 5); () })
      sweep("pointer", s"/tmp/graft_ptrsweep_x${k}_ptr/idx",
        r => IndexLifecycle.buildIndexGeneration(spark, r) { gen =>
          Ivf.buildIndex(emb, "vec_id", "embedding", gen, maxIter = 5); ()
        })
    }
    spark.stop()
  }
}
