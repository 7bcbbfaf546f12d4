package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A spec's one local session: built before its first test, stopped
  * after its last. A spec overrides the core count, the shuffle
  * partitions (default: one per core), the log level or extra confs. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>
  protected def cores: Int = 4
  protected def partitions: Int = cores
  protected def logLevel: String = "ERROR"
  protected def conf: Seq[(String, String)] = Nil

  private var _spark: SparkSession = _
  protected def spark: SparkSession = _spark

  override def beforeAll(): Unit = {
    super.beforeAll()
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .appName(getClass.getSimpleName)
    conf.foreach { case (k, v) => b.config(k, v) }
    _spark = b.getOrCreate()
    _spark.sparkContext.setLogLevel(logLevel)
  }

  override def afterAll(): Unit =
    try if (_spark != null) _spark.stop() finally super.afterAll()
}
