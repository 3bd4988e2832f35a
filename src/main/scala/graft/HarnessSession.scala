package graft

import org.apache.spark.sql.SparkSession

/** The one local session of the harness mains (Bench, Verify, Explain,
  * ScaleProbe): `local[SPARK_GRAFT_CPUS]` with as many shuffle
  * partitions, the graft extensions (functions and the ->/->> parser
  * arrive through SparkSessionExtensions, the library deployment path),
  * adaptive execution (Spark 4's default, set explicitly), UTC session
  * time, no UI.
  *
  * events.parquet of older generations carries INT64 TIMESTAMP(NANOS);
  * Spark 4 reads it only under `spark.sql.legacy.parquet.nanosAsLong`
  * (as raw nanos long), and Tables.load normalizes it to a timestamp.
  */
object HarnessSession {
  def apply(appName: String, defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
