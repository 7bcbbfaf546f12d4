package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark plan over an sf dir, and the DuckDB
  * SQL that must reproduce its output (None: rows-only check). */
final case class Entry(name: String, q: Registry.Q, oracle: Option[String])

/** A query registry: its entries, and the name → plan and name → oracle
  * maps [[graft.SparkEntry]] merges across registries. */
abstract class Registry {
  def entries: Seq[Entry]
  lazy val queries: Map[String, Registry.Q] = entries.map(e => e.name -> e.q).toMap
  lazy val oracle: Map[String, String] =
    entries.flatMap(e => e.oracle.map(e.name -> _)).toMap
}

object Registry {
  type Q = (SparkSession, String) => DataFrame
}
