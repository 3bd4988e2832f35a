package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle gate: the Spark query `build(spark, sfDir)` and the DuckDB
  * SQL `oracle` that must produce the same rows over the same parquet.
  * `name` is the gate's output directory under the Verify dump.
  */
final case class Gate(name: String,
                      build: (SparkSession, String) => DataFrame,
                      oracle: String)
