package graft
import java.nio.file.{Files, Paths}

/** Optimization-round evidence tool: writes, per declared query, the
  * `.explain("formatted")` plan (pre-execution — PushedFilters/ReadSchema/
  * join strategies) followed by the final executed plan (post-AQE — real
  * Exchange count, AQEShuffleRead coalescing, runtime join rewrites) to
  * `<outDir>/<query>.txt`. Usage:
  *   SPARK_GRAFT_PLAN_ONLY=q1,q2 SPARK_GRAFT_SF_DIR=... \
  *     spark-submit --class graft.PlanDump <jar> <outDir>
  * Side-effecting lifecycle queries run exactly as in Bench (the noop sink
  * executes the plan), so dumping is safe at any SF.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val only = sys.env.get("SPARK_GRAFT_PLAN_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          spark.sparkContext.setJobDescription(s"plandump: $name")
          val df = fn(spark, sfDir)
          val formatted = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          df.write.format("noop").mode("overwrite").save()
          val executed = df.queryExecution.executedPlan.toString
          Files.writeString(Paths.get(s"$outDir/$name.txt"),
            s"== explain(formatted), sf=$sfDir ==\n$formatted\n" +
              s"== executed plan (final AQE) ==\n$executed\n")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
