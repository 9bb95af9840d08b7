package graft
/** The t1 smoke check: SparkEntry.entry rows > 0.
  * A FAIL exits 1, so no script can read an empty entry as green. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, false)
    println(s"SMOKE rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
