package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: a driver-contract query and its DuckDB oracle,
  * declared together. Both are functions of the session and the sf dir
  * only — an oracle never depends on which queries this process ran first;
  * a data-derived oracle reads the same per-dir memo its query reads. */
final case class QuerySpec(name: String, run: QuerySpec.Run, oracle: QuerySpec.Oracle)

object QuerySpec {
  type Run = (SparkSession, String) => DataFrame

  /** the oracle SQL for an sf dir; `None` leaves the query to the weaker
    * rows-only check for that dir. */
  type Oracle = (SparkSession, String) => Option[String]

  /** a query whose oracle is fixed SQL text. */
  def apply(name: String, run: Run, sql: String): QuerySpec =
    QuerySpec(name, run, (_: SparkSession, _: String) => Some(sql))

  /** an oracle generated from the sf dir's data (fitted models, derived
    * rates, corpus-size profiles). */
  def derived(sql: (SparkSession, String) => String): Oracle =
    (s, dir) => Some(sql(s, dir))

  /** an oracle read from a per-dir recompute that yields several queries'
    * oracles at once, keyed by query name. */
  def recomputed(name: String, run: Run,
                 recompute: (SparkSession, String) => Map[String, String]): QuerySpec =
    QuerySpec(name, run, (s: SparkSession, dir: String) => recompute(s, dir).get(name))

  /** the registry over per-family spec lists; a name declared twice fails
    * by name instead of one declaration silently replacing the other. */
  def registry(families: (String, Seq[QuerySpec])*): Map[String, QuerySpec] = {
    val declared = for ((family, specs) <- families; q <- specs) yield q.name -> family
    declared.groupBy(_._1).foreach { case (name, decls) =>
      if (decls.size > 1)
        throw new DuplicateQueryException(name, decls(0)._2, decls(1)._2)
    }
    families.flatMap(_._2).map(q => q.name -> q).toMap
  }
}

/** Two registry declarations share one query name. */
final class DuplicateQueryException(val name: String, val first: String,
                                    val second: String)
    extends IllegalArgumentException(
      s"duplicate query name '$name' (declared in $first and in $second)")
