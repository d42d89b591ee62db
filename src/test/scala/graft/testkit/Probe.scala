package graft.testkit

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dev probe over `SparkEntry.queries`, on the same session `Bench` runs
  * (`GraftSession.local(GraftSession.defaultCpus)`). Two modes:
  *
  *  - `plan <sfDir> <outDir> <tag>`: writes each query's
  *    `.explain("formatted")` to `<outDir>/<name>_<tag>.txt` (not executed,
  *    so no AQE final plan). `SPARK_GRAFT_ONLY=q1,q2` picks the queries.
  *  - `scale <sfDir> <outJson> [q1,q2,..]`: per query, one warm-up then
  *    best-of-2 task profiles from cleared caches, one JSON row each
  *    (wall, task count, max/median task ms, max shuffle records). Run the
  *    same family at two scale factors and compare the slopes
  *    (`tools/probe_summary.py`), so constant overheads divide out.
  *
  * Usage: sbt 'Test/runMain graft.testkit.Probe plan <sfDir> plans/<round> before'
  */
object Probe {
  /** The data-heavy family the scale slopes are taken on. The uncapped
    * pair generator p04 is left out: it is expected to blow up past sf1 on
    * boilerplate-heavy data, and the capped variants carry the claim. */
  private val ScaleFamily = Seq(
    "p18_jaccard_capped", "p05_minhash_pairs", "p32_minhash_capped",
    "p06_simhash_pairs", "p24_dedup_clusters", "p37_dedup_substrings",
    "p55_keep_best", "p72_snapshot_dedup_near", "q02_revenue_by_nation")

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("plan", sfDir, outDir, tag) => withSession(plan(_, sfDir, outDir, tag))
    case Seq("scale", sfDir, outJson, rest @ _*) if rest.length <= 1 =>
      val family = rest.headOption.map(_.split(",").toSeq).getOrElse(ScaleFamily)
      withSession(scale(_, sfDir, outJson, family))
    case _ =>
      System.err.println(
        "usage: Probe plan <sfDir> <outDir> <tag> | Probe scale <sfDir> <outJson> [q1,q2,..]")
      sys.exit(2)
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = GraftSession.local(GraftSession.defaultCpus)
    try body(spark) finally spark.stop()
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))

  private def plan(spark: SparkSession, sfDir: String, outDir: String, tag: String): Unit = {
    new java.io.File(outDir).mkdirs()
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        try {
          val path = s"$outDir/${name}_$tag.txt"
          write(path, fn(spark, sfDir).queryExecution.explainString(FormattedMode))
          println(s"[probe] wrote $path")
        } catch { case NonFatal(e) =>
          System.err.println(s"[probe] $name failed: ${e.getMessage}")
        }
      }
    }
  }

  private def scale(spark: SparkSession, sfDir: String, outPath: String,
                    family: Seq[String]): Unit = {
    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
    val cpus = spark.sparkContext.defaultParallelism
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    family.foreach { name =>
      clearCaches()
      rows += (try {
        force(name) // warm-up: codegen, parquet footers
        val best = (1 to 2).map { _ =>
          clearCaches()
          TaskStats.profile(spark)(force(name))._2
        }.minBy(_.wallMs)
        println(best.summary(name))
        val loadavg = try new String(Files.readAllBytes(Paths.get("/proc/loadavg")),
          StandardCharsets.UTF_8).trim.split("\\s+")(0) catch { case NonFatal(_) => "" }
        s"""{"query":"$name","wall_s":${best.wallMs / 1000.0},""" +
          s""""tasks":${best.tasks.size},"max_task_ms":${best.maxTaskMs},""" +
          s""""median_task_ms":${best.medianTaskMs},""" +
          s""""max_shuffle_write_rec":${best.maxSwRecords},""" +
          s""""max_shuffle_read_rec":${best.maxSrRecords},""" +
          s""""loadavg1":"$loadavg"}"""
      } catch { case NonFatal(e) =>
        val msg = String.valueOf(e.getMessage)
        println(s"FAIL $name: ${msg.take(200)}")
        val safe = msg.replaceAll("[\"\\\\\n\r]", " ").take(160)
        s"""{"query":"$name","failed":"$safe"}"""
      })
      // rewritten after every query: a late crash keeps the earlier rows
      write(outPath, s"""{"sf":"$sfDir","cpus":$cpus,"rows":[${rows.mkString(",")}]}""" + "\n")
    }
    println(s"wrote $outPath")
  }
}
