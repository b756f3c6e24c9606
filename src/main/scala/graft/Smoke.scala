package graft

/** Drives SparkEntry.entry exactly as the driver's smoke check does. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(20, false)
    println(s"[smoke] entry rows=${df.count()}")
    spark.stop()
  }
}
