package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.collections.Collections
import graft.gates._

/** The correctness and bench contract — see SURVEY.md §7.
  *
  * Every [[graft.gates.Gate]] is one operator from SURVEY.md §2
  * re-expressed Spark-first, declared once in its family file under
  * `graft/gates/` together with the DuckDB SQL the correctness gate runs on the
  * same parquet for the hash-match correctness gate. Every gate carries
  * an oracle; `queries` and `oracleSql` are views of the one `gates` list.
  *
  * Determinism rules used throughout (SURVEY.md §7.3):
  *  - the kernels widen float->double per ELEMENT, which is bit-identical
  *    to casting the array up front, so scoring runs on raw float vectors
  *    (no per-row array allocation) while DuckDB scores double-cast lists;
  *    only queries that OUTPUT a vector column cast it to array<double>;
  *  - similarity scores are rounded (6 dp) BEFORE ranking, with an `id`
  *    tiebreak, so top-k boundaries agree;
  *  - money aggregates go through exact DECIMAL accumulation (order
  *    independent) and only the final value is cast to double;
  *  - the gate sorts rows before hashing, so only LIMIT queries carry an
  *    ORDER BY (a global output sort on an unbounded result is pure waste
  *    at scale); oracle SQL may keep ORDER BY for readability.
  */
object SparkEntry {

  val gates: Seq[Gate] =
    ScanAndJson.gates ++ DenseSearch.gates ++ CompositeSearch.gates ++
      Relational.gates ++ PipelineOps.gates ++ AnalyticsOps.gates

  require(gates.map(_.name).distinct.size == gates.size,
    "duplicate gate names: " +
      gates.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }.mkString(", "))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  def oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap

  /** Flagship query on /root/testdata/sf0.001 (the reference's README
    * headline shape, /root/reference/README.md:67-72): scan the collection,
    * project id/payload/vector, limit. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    Collections.homogeneous(spark, "/root/testdata/sf0.001")
      .select(col("id"), col("payload"), col("vector"))
      .limit(10)
}
