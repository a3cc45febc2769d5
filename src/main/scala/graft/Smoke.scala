package graft

/** Driver-smoke replica: runs SparkEntry.entry and prints the row
  * count plus schema, so every round can confirm the flagship query
  * end-to-end without the full Verify pass.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.show(5, truncate = false)
    require(n > 0, "entry must return rows")
    spark.stop()
  }
}
