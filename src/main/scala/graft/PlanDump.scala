package graft

// Ad-hoc plan inspection (not part of the driver contract).
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    for (name <- args) {
      println(s"########## $name")
      val df = SparkEntry.queries(name)(spark, dir)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
