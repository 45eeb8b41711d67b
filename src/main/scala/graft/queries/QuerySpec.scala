package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: `run` builds its result from the tables under a
  * scale-factor directory, and `oracle` is the DuckDB SQL the driver
  * hash-compares that result against.
  *
  * Convention for oracle-comparability (the driver hash-compares values
  * after sorting columns by name):
  *   - every floating-point output column is rounded (`_r` suffix) so
  *     summation-order noise in the last bits can't flip the hash;
  *   - every query has a total-order `ORDER BY` on both sides;
  *   - aggregate/computed columns are aliased identically on both sides.
  */
final case class QuerySpec(name: String,
                           run: (SparkSession, String) => DataFrame,
                           oracle: String)

object QuerySpec {

  /** Index `specs` by name. A name declared twice is an error here: a map
    * built from pairs would silently keep the last declaration. */
  def registry(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, s) if s.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }
}
