package graft

/** Local stand-in for the driver's t1 smoke gate: run SparkEntry.entry
  * in a fresh session, as the driver would, and print the row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5)
    println("QUERIES=" + SparkEntry.queries.size + " ORACLES=" + SparkEntry.oracleSql.size)
    spark.stop()
  }
}
