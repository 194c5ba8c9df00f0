package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One Verify query: its name, the engine code that answers it over an
  * sf directory, and the DuckDB SQL that answers it independently over
  * the same parquet tables (the oracle its output is checked against,
  * as `tools/check_oracle.py` does). Column names and rounding are
  * aligned on both sides because the check hashes values after sorting
  * columns by name.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)
