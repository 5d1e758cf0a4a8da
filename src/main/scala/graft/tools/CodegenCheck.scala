package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Diagnostic: execute queries and report whole-stage-codegen coverage of
  * the FINAL adaptive plan (pre-execution formatted plans hide it). */
object CodegenCheck {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.codegen.maxFields",
        sys.env.getOrElse("SPARK_GRAFT_MAXFIELDS", "512"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    args.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.write.mode("overwrite").format("noop").save()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      val spans = "\\*\\(\\d+\\)".r.findAllIn(finalPlan).toSet.size
      val interpreted = finalPlan.linesIterator.count(l =>
        l.contains("HashAggregate") && !l.contains("*("))
      println(s"CODEGEN $n codegenStages=$spans interpretedHashAggs=$interpreted")
      if (sys.env.contains("SPARK_GRAFT_PRINTPLAN")) println(finalPlan)
    }
    spark.stop()
  }
}
