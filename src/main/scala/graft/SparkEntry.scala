package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query catalog is assembled from per-domain modules; every entry
  * carries its own DuckDB oracle SQL (or None for non-SQL-expressible ops).
  */
object SparkEntry {

  /** Full catalog (relational + SPARQL engine + LLM-pipeline ops). */
  def catalog: Seq[Q] = Catalog.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg_pricing")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.sql.map(q.name -> _)).toMap
}

/** Central registry of all catalog modules. */
object Catalog {
  def all: Seq[Q] =
    graft.relational.RelationalQueries.all ++
      graft.sparql.SparqlQueries.all ++
      graft.llm.LlmQueries.all

  /** The entries `tokens` name, in catalog order: a token names every
    * entry whose name it equals or prefixes (`q144` selects
    * q144_nightly_curation_stores). Empty tokens are dropped, so
    * `q144,,q147` stays targeted; a token that names nothing fails,
    * naming it. */
  def select(tokens: Seq[String]): Seq[Q] = {
    val toks = tokens.map(_.trim).filter(_.nonEmpty)
    require(toks.nonEmpty, "no catalog entry token given")
    val entries = all
    val unknown = toks.filterNot(t => entries.exists(_.name.startsWith(t)))
    require(unknown.isEmpty,
      s"no catalog entry matches ${unknown.mkString("'", "', '", "'")}")
    entries.filter(q => toks.exists(q.name.startsWith))
  }
}
