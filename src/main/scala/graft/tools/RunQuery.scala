package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnostic: run one `SparkEntry.queries` entry against a data dir
  * and print its first rows — the quickest way to eyeball a gate row
  * (recall values, counts) on an ad-hoc corpus such as the skew or
  * scale probe outputs, where the DuckDB oracle harness doesn't run.
  *
  * Usage: runMain graft.tools.RunQuery <name> [sfDir] [maxRows]
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: RunQuery <queryName> [sfDir] [maxRows]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val maxRows = args.lift(2).map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.codegen.maxFields", "512")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.show(maxRows, truncate = false)
    println(s"RUNQUERY rows=${df.count()}")
    spark.stop()
  }
}
