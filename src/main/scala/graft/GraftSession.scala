package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built: every main and the test
  * suites call [[local]], so the engine runs under one configuration. */
object GraftSession {

  /** A local session on `cpus` cores (default `SPARK_GRAFT_CPUS`, else 4)
    * with as many shuffle partitions, UTC session time, the graft SQL
    * extensions, nanosecond parquet timestamps read as longs (the fixture
    * tables carry them), a fresh `graft_<tag>_wh` temp warehouse, no UI
    * and WARN logging. */
  def local(tag: String,
            cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory(s"graft_${tag}_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
