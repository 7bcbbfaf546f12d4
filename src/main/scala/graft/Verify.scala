package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — extra args filter the dump
    // to the named queries (local iteration); the driver passes exactly 2
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).toSet
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => only.isEmpty || only(q._1)).foreach { case (name, fn) =>
      Harness.attempt(s"[verify] $name failed") {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
    }
    // Jackson escapes ALL control chars: a raw tab or CR in an oracle's SQL
    // would make oracle_sql.json unparseable and fail every oracle check.
    val json = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(
      scala.jdk.javaapi.CollectionConverters.asJava(
        SparkEntry.oracleSql.filter(o => only.isEmpty || only(o._1))))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
