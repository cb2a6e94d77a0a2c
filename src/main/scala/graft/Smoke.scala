package graft
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-smoke")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, false)
    spark.stop()
  }
}
