package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: `build` runs it over a data dir, `oracle` is the
  * DuckDB SQL that must return the same rows. A family's `specs(root)` binds
  * both to one index root, where `build` writes its persisted indexes and
  * sinks and `oracle` reads them back.
  */
final case class QuerySpec(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)
