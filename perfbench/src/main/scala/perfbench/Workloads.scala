package perfbench

import graft.Q
import graft.exec.SparqlExecutor
import graft.parser.SparqlParser
import graft.sparql.{SparqlQueries, TpchGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry as the benchmark calls it: the layer calls that
  * produce the entry's DataFrame, each inside its own span, plus the
  * entry's DuckDB oracle SQL. */
final case class Entry(name: String, oracle: Option[String],
    build: (SparkSession, String, Tracer) => DataFrame)

/** The named workloads. Each is a fixed set of catalog entries,
  * resolved from the catalog at run time, so a change to an entry's
  * implementation is measured as is. The sets are small enough that set-up,
  * several measured passes and the oracle check fit one benchmark run; each
  * keeps one entry per mechanism its workload stands for. */
object Workloads {

  val names: Seq[String] = Seq("kg_ts_query", "curation_night")

  /** Entry ids per workload. kg_ts_query: the hybrid time-series rewrite
    * (a plain SPARQL entry), ASK, the DSL front end and the OTTR mapper.
    * curation_night: the Bloom history store (appends under commit
    * markers) and the streamed similarity-graph store (a streamed fold
    * plus compaction). */
  val ids: Map[String, Seq[String]] = Map(
    "kg_ts_query" -> Seq("q42", "q72", "q131", "q132"),
    "curation_night" -> Seq("q141", "q143"))

  /** Warm-up passes before measuring. kg_ts_query's short entries keep
    * getting faster for several passes while the JIT catches up, and runs
    * whose JIT lagged read up to a third slower; three more passes settle
    * it. curation_night's second pass still ran up to a fifth faster than
    * its first, so it gets one more. */
  def warmupPasses(workload: String): Int =
    if (workload == "kg_ts_query") 4 else 2

  def entries(workload: String): Seq[Entry] = {
    val want = ids.getOrElse(workload, sys.error(s"unknown workload " +
      s"'$workload' (known: ${names.mkString(", ")})"))
    val texts = SparqlQueries.sparqlTexts
    val catalog = graft.Catalog.all
    want.map { id =>
      val q = catalog.find(_.name.startsWith(id + "_"))
        .getOrElse(sys.error(s"catalog has no entry $id"))
      texts.get(q.name).map(t => sparqlEntry(q, prologue + t))
        .getOrElse(generic(q))
    }
  }

  /** Same prefix block the catalog's SPARQL entries are written against. */
  private val prologue =
    s"""PREFIX g:<${TpchGraph.ns}>
       |PREFIX otit_swt:<${graft.rdf.Otit.ns}>
       |PREFIX xsd:<http://www.w3.org/2001/XMLSchema#>
       |PREFIX rdf:<http://www.w3.org/1999/02/22-rdf-syntax-ns#>
       |""".stripMargin

  /** Any entry: its whole function is one `build` span. */
  private def generic(q: Q): Entry =
    Entry(q.name, q.sql, (s, dir, tr) => tr.span("build")(q.fn(s, dir)))

  /** A plain SPARQL entry, whose function is graph → parse → execute:
    * the benchmark makes the three public calls itself. */
  private def sparqlEntry(q: Q, text: String): Entry =
    Entry(q.name, q.sql, (s, dir, tr) => {
      val g = tr.span("sparql")(TpchGraph.graph(s, dir))
      val query = tr.span("parser")(SparqlParser.parse(text))
      tr.span("exec")(new SparqlExecutor(g).execute(query))
    })
}
