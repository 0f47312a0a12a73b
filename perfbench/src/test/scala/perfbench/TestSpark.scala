package perfbench

import org.apache.spark.sql.SparkSession

/** One local session for the test JVM, with the counting filesystem
  * installed as in a traced run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Trace.context = Some(s.sparkContext)
    s
  }
}
