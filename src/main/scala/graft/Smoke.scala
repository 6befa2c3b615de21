package graft

/** Local stand-in for the driver's t1 smoke: run SparkEntry.entry (flagship
  * q10 through the asserting DQ gate) and print the rowcount. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("smoke")
    println(s"SMOKE_ENTRY_ROWS=${SparkEntry.entry(spark).count()}")
    spark.stop()
  }
}
