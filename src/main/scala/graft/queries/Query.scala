package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query of the driver contract: its name, the Spark plan it
  * runs over an sf dir, and the DuckDB SQL the driver compares it against.
  *
  * Every query ends in an explicit total order (or is uniquely keyed by its
  * group-by) so the driver's hash compare is deterministic, and every
  * floating-point aggregate is summed in DECIMAL then cast to DOUBLE so
  * Spark's parallel partial aggregation and DuckDB's serial sum produce the
  * same bits regardless of addition order. Column names are aligned 1:1
  * between `run` and `oracleSql` (the driver sorts columns by name before
  * hashing).
  *
  * Hash-seeded / approximate / codec-specific operators are oracled
  * through deterministic invariants (the pattern proven on q_dedup_recall /
  * q_sim_ivf_recall): planted-probe recall, truth-set equality under the
  * corpus's clean J-separation, fingerprint injectivity, chunker
  * cap/lossless/parity audits. Each invariant is stated at the query
  * definition and verified empirically at the gate SF.
  */
final case class Query(name: String,
                       run: (SparkSession, String) => DataFrame,
                       oracleSql: String)
