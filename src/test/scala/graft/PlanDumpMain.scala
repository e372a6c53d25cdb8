package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Dev-only plan/timing probe for the optimization rounds.
  *
  * Usage:
  *   graft.PlanDumpMain explain <outDir> <suffix> [query...]
  *     — writes <outDir>/<query>_<suffix>.txt with .explain("formatted")
  *   graft.PlanDumpMain time <passes> [query...]
  *     — runs each query <passes> times through the noop sink and prints
  *       per-pass seconds + min (same timed action as Bench).
  *
  * Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench so plans and
  * timings are captured under the exact bench session configuration.
  */
object PlanDumpMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()

    args.toList match {
      case "explain" :: outDir :: suffix :: names =>
        Files.createDirectories(Paths.get(outDir))
        val qs = Queries.all.filter(q => names.isEmpty || names.contains(q.name))
        qs.foreach { q =>
          val df = q.run(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(outDir, s"${q.name}_$suffix.txt"),
            txt.getBytes("UTF-8"),
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
          println(s"wrote ${q.name}_$suffix.txt (${txt.length} chars)")
        }
      case "time" :: passesStr :: names =>
        val passes = passesStr.toInt
        val qs = Queries.all.filter(q => names.isEmpty || names.contains(q.name))
        qs.foreach { q =>
          spark.sparkContext.setJobDescription(q.name)
          val ts = (1 to passes).map { _ =>
            // Bench's cold-plan protocol: drop Dataset-level cache AND
            // RDD-level persisted blocks so every pass recomputes from
            // parquet — otherwise a persist()-ing query's later passes
            // read the first pass's cache and report warm-cache times
            spark.catalog.clearCache()
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(blocking = false))
            val t0 = System.nanoTime()
            q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          spark.sparkContext.setJobDescription(null)
          println(f"${q.name}%-40s min=${ts.min}%7.3f  passes=${ts.map(t => f"$t%.3f").mkString(",")}")
        }
      case other =>
        sys.error(s"unknown args: $other")
    }
    spark.stop()
  }
}
