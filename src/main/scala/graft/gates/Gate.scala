package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: a Spark plan over an sf dir and the DuckDB SQL
  * that restates it over the same tables, declared together. The two must
  * return the same rows.
  *
  * Conventions (cross-engine exactness, see Fns):
  *  - aggregates of double measures go through DECIMAL(18,6) and emit DOUBLE;
  *  - every query ends in a total-order ORDER BY mirrored in the oracle;
  *  - all computed columns are aliased identically on both sides.
  */
final case class Gate(name: String, plan: (SparkSession, String) => DataFrame,
                      oracleSql: String)

/** The gate registry: every family's gates, in family order. Touching it
  * initializes each family object, which is also what declares the spools
  * that family's gates read. */
private[graft] object Gates {
  val all: Seq[Gate] = registry(Seq(MartGates.gates, AggGates.gates,
    WindowGates.gates, FunctionGates.gates, JoinGates.gates, StoreGates.gates,
    TextGates.gates, DedupGates.gates, CorpusGates.gates,
    MultimodalGates.gates, VectorGates.gates, GraphGates.gates).flatten)

  /** `gates` unchanged, once no two of them share a name: a gate name is
    * the key of both [[SparkEntry.queries]] and [[SparkEntry.oracleSql]]. */
  def registry(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate '${dups.toSeq.sorted.mkString("', '")}'")
    gates
  }
}
