package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: `build` makes its DataFrame from (session,
  * sfDir), and `oracle` is the DuckDB SQL its output is checked against.
  * `family` names the file under `graft/queries/` that registers it. */
final case class Query(name: String, family: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: String)

object Query {

  /** The records keyed by name. A repeated name is refused: a map keyed
    * by name would silently keep only one of the two. */
  def byName(records: Seq[Query]): Map[String, Query] = {
    val repeated = records.groupBy(_.name).collect {
      case (n, rs) if rs.size > 1 => n
    }
    require(repeated.isEmpty,
      s"query names registered more than once: " +
      repeated.toSeq.sorted.mkString(", "))
    records.map(r => r.name -> r).toMap
  }
}
