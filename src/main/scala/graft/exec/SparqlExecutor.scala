package graft.exec

import graft.algebra.Algebra._
import graft.graph.{OKind, PredicateSlice, TriplesGraph}
import graft.rdf._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** SPARQL algebra → one Spark DataFrame plan.
  *
  * The reference executes the same algebra three times over (combiner /
  * prepper / backends — SURVEY §2 preamble); here a single translation pass
  * emits a declarative plan and Catalyst does pushdown, pruning, join
  * selection and codegen. Graph patterns become joins over per-predicate
  * slices; the time-series vocabulary (`hasDataPoint`/`hasTimestamp`/
  * `hasValue`, virtual in the reference: never materialized as triples —
  * /root/reference/hybrid/src/preprocessing.rs:329-392) is routed to the
  * TsSource: consecutive virtual triples over one data-point variable
  * collapse into a single time-series scan (cf. the reference's
  * BasicTimeSeriesQuery, hybrid/src/timeseries_query.rs:12-19).
  */
final class SparqlExecutor(
    graph: TriplesGraph,
    extraFunctions: Map[String, Seq[Column] => Column] = Map.empty,
    closureMaxIters: Int = 1000,
    services: Map[String, TriplesGraph] = Map.empty) {

  import SparqlExecutor._

  private val spark = graph.spark
  private var fresh = 0
  private def freshName(p: String): String = { fresh += 1; s"__${p}$fresh" }

  /** Active named-graph context (GraphPat): None = default graph. Scans
    * consult it — translation is single-threaded, so a save/restore around
    * the inner pattern is safe, including for deferred closures (they
    * translate inside the same translateBgp call). */
  private var graphCtx: Option[VarOrTerm] = None

  /** Active FROM / FROM NAMED dataset (§13.2). When set, it REPLACES the
    * store's dataset: default-graph matching reads the merge of the FROM
    * graphs (not the untagged triples) and GRAPH ranges over FROM NAMED
    * only. Sub-SELECTs inherit the outer dataset (they carry none). */
  private var activeDataset: Option[DatasetClause] = None

  def execute(query: SelectQuery): DataFrame = {
    val saved = activeDataset
    if (query.dataset.isDefined) activeDataset = query.dataset
    try translateQuery(query, unitSol).df finally activeDataset = saved
  }

  def execute(sparql: String): DataFrame =
    execute(graft.parser.SparqlParser.parse(sparql))

  /** Solution frame of a bare pattern (no projection) — the WHERE engine
    * behind the UPDATE forms ([[SparqlUpdate]]). */
  private[graft] def solutions(p: Pattern): DataFrame =
    translatePattern(p, unitSol).df

  /** [[solutions]] under a USING / USING NAMED dataset (Update §3.1.3):
    * same replacement semantics as FROM / FROM NAMED. */
  private[graft] def solutions(p: Pattern,
      dataset: Option[DatasetClause]): DataFrame = {
    val saved = activeDataset
    if (dataset.isDefined) activeDataset = dataset
    try solutions(p) finally activeDataset = saved
  }

  /** ASK: does the pattern have any solution? (Beyond-parity — the
    * reference is SELECT-only.) One `limit(1)`-style existence job. */
  def executeAsk(q: AskQuery): Boolean =
    !translatePattern(q.where, unitSol).df.isEmpty

  def executeAsk(sparql: String): Boolean =
    graft.parser.SparqlParser.parseAny(sparql) match {
      case a: AskQuery => executeAsk(a)
      case other => throw new IllegalArgumentException(s"not an ASK query: $other")
    }

  /** CONSTRUCT: instantiate the template once per solution. Output is the
    * long-form (s, p, o) canonical-string triple frame (the same shape as
    * [[TriplesGraph.allTriples]], so the result feeds straight back into
    * graph construction). Unbound template variables skip their triple
    * (SPARQL 1.1 §16.2). Template blank nodes (`_:label` / `[]`, which the
    * parser renames to `__bnode_`/`__anon` variables) mint a FRESH blank
    * node per solution — one id per (solution row, label), so triples
    * sharing a label within one solution share the node (§16.2.1 scoping;
    * labels are template-scoped, minted even if a pattern variable shares
    * the name). Ids derive from a content-hash row id (the retry-stable
    * BNODE() spelling), never a nondeterministic counter. Set semantics:
    * the output is distinct — but duplicate SOLUTIONS still mint distinct
    * blank nodes (the spec's per-solution instantiation), they are not
    * collapsed. */
  def executeConstruct(q: ConstructQuery): DataFrame = {
    val sol = translatePattern(q.where, unitSol)
    instantiateQuads(sol.df, Seq(QuadBlock(None, q.template)), allowBnodes = true)
      .select(col("s"), col("p"), col("o"))
      .distinct()
  }

  /** Instantiate template quad blocks once per solution row — the shared
    * kernel behind CONSTRUCT and the UPDATE template forms. Returns the
    * canonical string quad frame (s, p, o, g, ol): g null = default graph,
    * ol = language tag carried by a constant lang literal (bound variables
    * contribute their canonical lexical only). Triples with an unbound
    * variable drop (§16.2), as do GRAPH-?var blocks on solutions where the
    * var is unbound. Blank-node minting (fresh per solution, shared per
    * label — §16.2.1) is only legal where `allowBnodes` (CONSTRUCT and
    * INSERT templates; DELETE templates reject it, Update §3.1.3). */
  private[graft] def instantiateQuads(solDf: DataFrame, blocks: Seq[QuadBlock],
      allowBnodes: Boolean): DataFrame = {
    def isTemplateBlankVar(v: String): Boolean =
      v.startsWith("__bnode_") || v.startsWith("__anon")
    def isBlank(vt: VarOrTerm): Boolean = vt match {
      case T(Blank(_)) => true
      case V(v) => isTemplateBlankVar(v)
      case _ => false
    }
    val allTriples = blocks.flatMap(_.triples)
    val needsMinting = allTriples.exists(t => isBlank(t.s) || isBlank(t.o))
    if (needsMinting && !allowBnodes) throw new IllegalArgumentException(
      "blank nodes are not allowed in DELETE templates (SPARQL 1.1 Update §3.1.3)")
    val rowId = freshName("rowid")
    val df0 =
      if (!needsMinting) solDf
      else {
        // content-hash row id + per-duplicate counter: deterministic across
        // executions/retries, unique per solution row (see BNODE())
        val rowCols = solDf.columns.toSeq.map(col(_).cast(StringType))
        val h = xxhash64((lit(0) +: rowCols): _*)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(h).orderBy(lit(1))
        solDf.withColumn(rowId,
          concat(hex(h), lit("r"), row_number().over(w).cast(StringType)))
      }
    def mint(label: String): Column =
      concat(lit("_:c"), md5(concat(col(rowId), lit(label))))
    def termCol(vt: VarOrTerm): Column = vt match {
      case V(v) if isTemplateBlankVar(v) => mint("v" + v)
      case V(v) =>
        if (df0.columns.contains(v)) col(v).cast(StringType)
        else lit(null).cast(StringType) // never bound: the triple drops
      case T(Blank(id)) => mint("t" + id)
      case T(t) => lit(t.canonical)
    }
    def langCol(vt: VarOrTerm): Column = vt match {
      case T(Lit(_, _, Some(lang))) => lit(lang)
      // a variable-bound object carries its language tag in the hidden
      // <v>__lang companion column: DELETE { ?s ex:label ?l } must match
      // lang-tagged rows, and INSERT of a bound lang literal keeps its tag
      case V(v) if df0.columns.contains(s"${v}__lang") => col(s"${v}__lang")
      case _ => lit(null).cast(StringType)
    }
    val parts = blocks.flatMap { block =>
      val (gCol, gFilter): (Column, Option[Column]) = block.graph match {
        case None => (lit(null).cast(StringType), None)
        case Some(T(Iri(g))) => (lit(g), None)
        case Some(T(other)) => throw new IllegalArgumentException(
          s"GRAPH designator must be an IRI or variable, got $other")
        case Some(V(v)) =>
          if (df0.columns.contains(v)) (col(v).cast(StringType),
            Some(col(v).isNotNull)) // unbound graph var: quad drops
          else (lit(null).cast(StringType), Some(lit(false)))
      }
      block.triples.map { case TriplePattern(s, p, o) =>
        val pCol = p match {
          case PLink(iri) => lit(iri)
          case PVar(v) =>
            if (df0.columns.contains(v)) col(v).cast(StringType)
            else lit(null).cast(StringType)
          case other => throw new IllegalArgumentException(
            s"template predicate must be an IRI or variable, got $other")
        }
        val base = df0.select(termCol(s).as("s"), pCol.as("p"),
          termCol(o).as("o"), gCol.as("g"), langCol(o).as("ol"))
        gFilter.fold(base)(f => df0.filter(f).select(termCol(s).as("s"),
          pCol.as("p"), termCol(o).as("o"), gCol.as("g"), langCol(o).as("ol")))
      }
    }
    parts.reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq("s", "p", "o", "g", "ol")
          .map(StructField(_, StringType)))))
      .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull)
  }

  def executeConstruct(sparql: String): DataFrame =
    graft.parser.SparqlParser.parseAny(sparql) match {
      case c: ConstructQuery => executeConstruct(c)
      case other => throw new IllegalArgumentException(s"not a CONSTRUCT query: $other")
    }

  /** DESCRIBE (implementation-defined per SPARQL 1.1 §16.4): every outbound
    * triple of each described resource — constants plus the bindings of the
    * described variables from the WHERE pattern. Returns the canonical
    * (s, p, o) string frame. The resource set joins the long-form triples
    * view, so with predicate-partitioned storage the scan unions pruned
    * slices, never one giant table. */
  def executeDescribe(q: DescribeQuery): DataFrame = {
    val consts = q.resources.collect { case T(t) => t.canonical }
    val vars = q.resources.collect { case V(v) => v }
    if (vars.nonEmpty && q.where.isEmpty)
      throw new IllegalArgumentException(
        s"DESCRIBE ?${vars.head} needs a WHERE pattern to bind it")
    val constDf =
      if (consts.isEmpty) None
      else Some(spark.createDataFrame(consts.map(Tuple1(_))).toDF("node"))
    val varDf = q.where.map { w =>
      val sol = translatePattern(w, unitSol)
      val missing = vars.filterNot(sol.df.columns.contains)
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"DESCRIBE variable(s) ${missing.mkString(", ")} not bound by the pattern")
      vars.map(v => sol.df.select(col(v).cast(StringType).as("node")))
        .reduceOption(_.unionByName(_))
    }.flatten
    val nodes = (constDf.toSeq ++ varDf.toSeq)
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("node", StringType)))))
      .filter(col("node").isNotNull).distinct()
    // class pruning: when the WHERE pattern proves every described node's
    // class set, slices (or cls partitions) whose subjects can never match
    // are skipped — a dimension DESCRIBE stops scanning the fact slices.
    // Only variable-only DESCRIBEs qualify (constants carry no class
    // evidence), and only conjunctively-required constraints count.
    val classes: Option[Set[String]] =
      if (consts.nonEmpty || vars.isEmpty) None
      else q.where.flatMap { w =>
        val perVar = vars.map { v =>
          val cons = classConstraints(w, v)
          if (cons.isEmpty) None else Some(cons.reduce(_ intersect _))
        }
        if (perVar.exists(_.isEmpty)) None
        else Some(perVar.flatten.reduce(_ union _))
      }
    // persisted graphs additionally prune by subject bucket
    // (TriplesGraph.outboundTriples); in-memory graphs semi-join the
    // (possibly class-pruned) slice union
    graph.outboundTriples(nodes, classes)
  }

  /** Possible-class sets provably constraining variable `v` in the
    * conjunctive spine of `p` (builder contract: a slice's non-empty
    * subjectClasses lists EVERY class its subjects may have). Each returned
    * set is one upper bound on v's classes; their intersection is the
    * tightest. Union/VALUES/sub-SELECT contribute nothing (a binding could
    * come from either branch), and only a LeftJoin's required side counts. */
  private def classConstraints(p: Pattern, v: String): Set[Set[String]] = p match {
    case Bgp(ts) => ts.flatMap {
      case TriplePattern(V(`v`), PLink(pred), T(cls)) if pred == Rdf.typ =>
        Some(Set(cls.canonical))
      case TriplePattern(V(`v`), PLink(pred), _) =>
        graph.slice(pred).map(_.subjectClasses).filter(_.nonEmpty)
      case _ => None
    }.toSet
    case Join(l, r) => classConstraints(l, v) ++ classConstraints(r, v)
    case Filter(_, i) => classConstraints(i, v)
    case Extend(i, _, _) => classConstraints(i, v)
    case LeftJoin(l, _, _) => classConstraints(l, v)
    case Minus(l, _) => classConstraints(l, v)
    case GraphPat(_, i) => classConstraints(i, v)
    // do NOT descend into SERVICE: a type pinned in the REMOTE graph says
    // nothing about local slice membership — pruning local scans by it
    // would drop rows the join should keep
    case ServicePat(_, _, _) => Set.empty
    case _ => Set.empty
  }

  def executeDescribe(sparql: String): DataFrame =
    graft.parser.SparqlParser.parseAny(sparql) match {
      case d: DescribeQuery => executeDescribe(d)
      case other => throw new IllegalArgumentException(s"not a DESCRIBE query: $other")
    }

  // ------------------------------------------------------------ solutions
  /** A partial solution: DataFrame whose visible columns are SPARQL vars (in
    * first-bound order). Hidden helper columns (`__`-prefixed, `<v>__lang`)
    * may also be present. */
  private case class Sol(df: DataFrame, vars: Seq[String])

  private def unitSol: Sol = Sol(spark.range(1).select(), Nil)
  private def isUnit(s: Sol): Boolean = s.vars.isEmpty && s.df.columns.isEmpty

  private def emptySol(vars: Seq[String]): Sol = {
    val schema = StructType(vars.map(v => StructField(v, StringType)))
    Sol(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema), vars)
  }

  /** Natural (inner) join on shared visible variables. */
  private def joinSols(a: Sol, b: Sol): Sol = {
    if (isUnit(a)) return b
    if (isUnit(b)) return a
    val shared = a.vars.intersect(b.vars)
    // drop colliding hidden companions (columns that are not visible vars,
    // e.g. <v>__lang) from the right side
    val dupHidden = b.df.columns.filter(c =>
      !b.vars.contains(c) && a.df.columns.contains(c))
    val bdf = dupHidden.foldLeft(b.df)(_.drop(_))
    val df =
      if (shared.isEmpty) a.df.crossJoin(bdf)
      else a.df.join(bdf, shared, "inner")
    Sol(df, a.vars ++ b.vars.diff(a.vars))
  }

  // ------------------------------------------------------------- patterns
  private def translatePattern(p: Pattern, input: Sol): Sol = p match {
    case Bgp(triples) => translateBgp(triples, input)
    case GraphPat(g, inner) =>
      val saved = graphCtx
      graphCtx = Some(g)
      try translatePattern(inner, input) finally graphCtx = saved
    case ServicePat(ep, inner, silent) =>
      // In-process federation: the inner pattern evaluates against the
      // registered endpoint graph through a SUB-executor (fresh default
      // graph context and dataset — SERVICE ranges over the remote
      // dataset, not the local one), then joins on shared variables like
      // any other solution. The join inherits the same Catalyst machinery
      // (broadcast when the remote result is small, shuffle otherwise).
      // SILENT failure = the unit solution (SPARQL 1.1 Federated Query
      // §2.2: a single empty solution mapping), so the rest of the query
      // is unaffected; non-SILENT failure is a loud error.
      def evalAgainst(remote: graft.graph.TriplesGraph): Sol = {
        val sub = new SparqlExecutor(remote, extraFunctions,
          closureMaxIters, services)
        val rs = sub.translatePattern(inner, sub.unitSol)
        Sol(rs.df, rs.vars)
      }
      def known = services.keys.toSeq.sorted.mkString(", ")
      ep match {
        case T(t) => services.get(t.canonical) match {
          case Some(remote) => joinSols(input, evalAgainst(remote))
          case None if silent => input
          case None => throw new IllegalArgumentException(
            s"SERVICE endpoint ${t.canonical} is not registered (known: $known)")
        }
        // Variable endpoint (Federated Query §2.4): evaluate once per
        // DISTINCT binding of the endpoint variable in the incoming
        // solutions — each group joins against its own endpoint's inner
        // results; SILENT lets groups bound to unknown (or null)
        // endpoints pass through as the unit solution; non-SILENT makes
        // them loud errors. The distinct-endpoint collect is bounded (an
        // endpoint registry is vocabulary-sized; the limit+require below
        // turns a misused data column into an error, not a driver OOM).
        case V(v) if !input.df.columns.contains(v) =>
          if (silent) input
          else throw new IllegalArgumentException(
            s"SERVICE ?$v: the endpoint variable is unbound — bind it in " +
              "an earlier pattern or use SERVICE SILENT")
        case V(v) =>
          val maxEps = 256
          val epRows = input.df.select(col(v).cast(StringType))
            .distinct().limit(maxEps + 1).collect()
          require(epRows.length <= maxEps,
            s"SERVICE ?$v: more than $maxEps distinct endpoint bindings — " +
              "?" + v + " does not look like an endpoint variable")
          val groups = epRows.toSeq.map { r =>
            val epVal = if (r.isNullAt(0)) None else Some(r.getString(0))
            val part = Sol(input.df.filter(
              epVal.map(e => col(v).cast(StringType) === lit(e))
                .getOrElse(col(v).isNull)), input.vars)
            epVal.flatMap(services.get) match {
              case Some(remote) => joinSols(part, evalAgainst(remote))
              case None if silent => part
              case None => throw new IllegalArgumentException(
                s"SERVICE ?$v: endpoint ${epVal.getOrElse("(null)")} is " +
                  s"not registered (known: $known)")
            }
          }
          groups match {
            case Seq() => Sol(input.df.limit(0), input.vars)
            case gs =>
              val vars = gs.map(_.vars).maxBy(_.length)
              Sol(gs.map(_.df).reduce(
                _.unionByName(_, allowMissingColumns = true)), vars)
          }
      }
    case Join(l, r) => translatePattern(r, translatePattern(l, input))
    case Filter(e, inner) =>
      val s0 = translatePattern(inner, input)
      val (e2, s1, markers) = materializeExists(e, s0)
      Sol(s1.df.filter(translateExpr(e2, s1)).drop(markers: _*), s0.vars)
    case Union(l, r) =>
      val ls = translatePattern(l, input)
      val rs = translatePattern(r, input)
      val vars = ls.vars ++ rs.vars.diff(ls.vars)
      Sol(ls.df.unionByName(rs.df, allowMissingColumns = true), vars)
    case Extend(inner, v, e) =>
      val s0 = translatePattern(inner, input)
      e match {
        // STRLANG builds a language-tagged literal: bind the lexical form
        // plus the __lang companion column LANG()/langMatches() read
        case EFunc("strlang", Seq(lex, tag)) =>
          val df = s0.df
            .withColumn(v, translateExpr(lex, s0).cast(StringType))
            .withColumn(s"${v}__lang", translateExpr(tag, s0).cast(StringType))
          Sol(df, s0.vars :+ v)
        case _ =>
          Sol(s0.df.withColumn(v, translateExpr(e, s0)), s0.vars :+ v)
      }
    case Minus(l, r) =>
      val ls = translatePattern(l, input)
      val rs = translatePattern(r, unitSol)
      val shared = ls.vars.intersect(rs.vars)
      if (shared.isEmpty) ls // SPARQL MINUS with disjoint domains removes nothing
      else {
        // alias the right side's columns: both sides often scan the same
        // slice, and a left_anti on shared names over shared lineage trips
        // Spark's ambiguous-self-join disambiguation (trivially-true
        // predicate warning, fragile across upgrades)
        val renames = shared.map(v => v -> freshName("m")).toMap
        val rdf = rs.df
          .select(shared.map(v => col(v).as(renames(v))): _*).distinct()
        val cond = shared.map(v => ls.df(v) === rdf(renames(v))).reduce(_ && _)
        Sol(ls.df.join(rdf, cond, "left_anti"), ls.vars)
      }
    case lj: LeftJoin => translateLeftJoin(lj, input)
    case ValuesPattern(vars, rows) => joinSols(input, valuesSol(vars, rows))
    case SubSelect(q) => joinSols(input, translateQuery(q, unitSol))
  }

  private def valuesSol(vars: Seq[String], rows: Seq[Seq[Option[Term]]]): Sol = {
    val kinds: Seq[OKind] = vars.indices.map { i =>
      rows.flatMap(r => r.lift(i).flatten).collectFirst {
        case Lit(_, dt, _) => OKind.ofDatatype(dt)
        case _: Iri | _: Blank => OKind.KIri
      }.getOrElse(OKind.KStr)
    }
    val schema = StructType(vars.zip(kinds).map { case (v, k) =>
      StructField(v, OKind.sparkType(k))
    })
    val data = rows.map { r =>
      Row(vars.indices.map { i =>
        r.lift(i).flatten.map(t => termToScala(t, kinds(i))).orNull
      }: _*)
    }
    Sol(spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema), vars)
  }

  // ------------------------------------------------------------ left join
  private def translateLeftJoin(lj: LeftJoin, input: Sol): Sol = {
    val LeftJoin(l, r, cond) = lj
    val ls = translatePattern(l, input)
    if (freeVars(r).isEmpty) {
      // Self-contained optional side: a plain left-outer join with the
      // condition folded into the ON clause (SURVEY §2.3 — the reference's
      // 89-line cumsum/anti-join machinery collapses into this).
      val rs = translatePattern(r, unitSol)
      val shared = ls.vars.intersect(rs.vars)
      val renames = shared.map(v => v -> s"__r_$v").toMap
      var rdf = rs.df
      for ((v, rv) <- renames) rdf = rdf.withColumnRenamed(v, rv)
      val dupHidden = rdf.columns.filter(c => c.contains("__lang") && ls.df.columns.contains(c))
      rdf = dupHidden.foldLeft(rdf)(_.drop(_))
      val joinSol = Sol(rdf, rs.vars.map(v => renames.getOrElse(v, v)))
      val eqCond = shared.map(v => ls.df(v) === rdf(renames(v)))
      val condCol = cond.map { e =>
        val remapped = remapExprVars(e, renames.filter { case (v, _) => !rs.vars.contains(v) })
        translateExprJoined(remapped, ls, joinSol)
      }
      val onCond = (eqCond ++ condCol.toSeq).reduceOption(_ && _).getOrElse(lit(true))
      val joined = ls.df.join(rdf, onCond, "left_outer")
      // keep left's copy of shared vars; drop right's renamed copies
      val out = renames.values.foldLeft(joined)(_.drop(_))
      Sol(out, ls.vars ++ rs.vars.diff(ls.vars))
    } else {
      // Optional side references outer bindings (e.g. BIND over a left var):
      // dependent evaluation with a row-id, the reference combiner's own
      // strategy (hybrid/src/combiner.rs:128-216), kept only for this case.
      // localCheckpoint (not persist): the row-id is nondeterministic, so
      // the diamond (ldf feeds both the optional side and the final join)
      // must read one materialization — but persist() registers in the
      // CacheManager and leaks for the session's lifetime, while a local
      // checkpoint is reclaimed by the ContextCleaner once unreferenced.
      val rid = freshName("rid")
      val ldf = ls.df.withColumn(rid, monotonically_increasing_id()).localCheckpoint()
      val lsol = Sol(ldf, ls.vars)
      val rs = translatePattern(r, lsol)
      val rdf = cond match {
        case Some(e) =>
          val (e2, s1, markers) = materializeExists(e, rs)
          s1.df.filter(translateExpr(e2, s1)).drop(markers: _*)
        case None => rs.df
      }
      val newVars = rs.vars.diff(ls.vars)
      val hidden = rdf.columns.filter(c => newVars.exists(v => c == s"${v}__lang"))
      val right = rdf.select((rid +: (newVars ++ hidden)).map(col): _*)
      Sol(ldf.join(right, Seq(rid), "left_outer").drop(rid), ls.vars ++ newVars)
    }
  }

  /** Rename variables inside an expression (for join-side disambiguation). */
  private def remapExprVars(e: Expr, m: Map[String, String]): Expr = {
    def go(x: Expr): Expr = x match {
      case EVar(v) => EVar(m.getOrElse(v, v))
      case ENot(a) => ENot(go(a))
      case EAnd(a, b) => EAnd(go(a), go(b))
      case EOr(a, b) => EOr(go(a), go(b))
      case ECmp(op, a, b) => ECmp(op, go(a), go(b))
      case EArith(op, a, b) => EArith(op, go(a), go(b))
      case ENeg(a) => ENeg(go(a))
      case EIn(a, list, n) => EIn(go(a), list.map(go), n)
      case EFunc(n, args) => EFunc(n, args.map(go))
      case EIf(c, t, f) => EIf(go(c), go(t), go(f))
      case ECoalesce(args) => ECoalesce(args.map(go))
      case EBound(v) => EBound(m.getOrElse(v, v))
      case other => other
    }
    go(e)
  }

  // ----------------------------------------------------------------- BGP
  private def translateBgp(triples: Seq[TriplePattern], input: Sol): Sol = {
    if (triples.isEmpty) return input
    // 0. rdf:type constraints pinned by this BGP — variable-predicate and
    //    NPS scans use them to prune vertical partitions whose declared
    //    subject classes can't match (see TriplesGraph.triplesExcept)
    val typeOf: Map[String, String] = triples.collect {
      case TriplePattern(V(v), PLink(p), T(cls)) if p == graft.rdf.Rdf.typ =>
        v -> cls.canonical
    }.toMap
    def clsOf(vt: VarOrTerm): Option[String] =
      vt match { case V(v) => typeOf.get(v); case _ => None }
    // 1. normalize property paths into simple (constant-predicate) triples
    //    plus complex components (alternation → union, closures → fixpoint)
    val simple = ArrayBuffer.empty[(VarOrTerm, String, VarOrTerm)]
    val complex = ArrayBuffer.empty[BgpComp]
    def expand(s: VarOrTerm, path: Path, o: VarOrTerm): Unit = path match {
      case PLink(iri) => simple += ((s, iri, o))
      case PVar(pv) => complex += SolComp(scanVarPredicate(s, pv, o, clsOf(s)))
      case PInverse(p) => expandInverse(s, p, o)
      case PSeq(a, b) =>
        val m = V(freshName("p"))
        expand(s, a, m); expand(m, b, o)
      case PAlt(a, b) =>
        complex += SolComp(translatePattern(
          Union(Bgp(Seq(TriplePattern(s, a, o))), Bgp(Seq(TriplePattern(s, b, o)))), unitSol))
      // closures stay DEFERRED: translated only when the greedy join loop
      // reaches them, so endpoints the accumulated solution has already
      // bound seed the fixpoint (anchored closure, not full-graph closure).
      // Inside GRAPH <iri> the step edges are already graph-scoped; under
      // GRAPH ?var they carry the graph tag and the fixpoint stays
      // per-graph (see translateClosure).
      case PZeroOrMore(p) => complex += ClosureComp(s, p, o, ClosureMode.ZeroOrMore)
      case POneOrMore(p) => complex += ClosureComp(s, p, o, ClosureMode.OneOrMore)
      case PZeroOrOne(p) => complex += ClosureComp(s, p, o, ClosureMode.ZeroOrOne)
      case PNegatedPropSet(fwd, inv) =>
        // !(a|^b): forward triples with p ∉ {a} UNION inverse triples with
        // p ∉ {b} (SPARQL 1.1 §9.1 NPS semantics)
        val parts = Seq(
          if (fwd.nonEmpty || inv.isEmpty) Some(scanNegated(s, fwd, o, clsOf(s))) else None,
          if (inv.nonEmpty) Some(scanNegated(o, inv, s, clsOf(o))) else None).flatten
        complex += SolComp(parts.reduce { (x, y) =>
          Sol(x.df.unionByName(y.df, allowMissingColumns = true),
            x.vars ++ y.vars.diff(x.vars))
        })
    }
    def expandInverse(s: VarOrTerm, p: Path, o: VarOrTerm): Unit = p match {
      case PLink(iri) => simple += ((o, iri, s))
      case PVar(pv) => complex += SolComp(scanVarPredicate(o, pv, s, clsOf(o)))
      case PInverse(q) => expand(s, q, o)
      case PSeq(a, b) =>
        val m = V(freshName("p"))
        expandInverse(m, a, o); expandInverse(s, b, m)
      case other => expand(o, other, s)
    }
    triples.foreach(t => expand(t.s, t.p, t.o))

    // 2. hybrid rewrite: collapse virtual time-series triples. The TS
    //    source is default-graph data: virtual triples inside GRAPH would
    //    silently match nothing, so reject them loudly.
    if (graphCtx.isDefined && simple.exists(t => isVirtual(t._2)))
      throw new UnsupportedOperationException(
        "time-series virtual triples inside GRAPH are not supported " +
          "(the TS source holds default-graph data)")
    val (tsComponents, staticTriples) = extractTsComponents(simple.toSeq)

    // 3. property-table fusion: same-subject patterns whose slices share a
    //    wide source collapse into one scan (n-ary star reads the table
    //    once instead of self-joining n slices); the rest scan per slice.
    //    Skipped inside GRAPH — fused property tables carry no graph tag,
    //    so per-slice scans (which do) are the correct spelling there.
    val (fusedScans, unfusedTriples) =
      if (graphCtx.isEmpty) fuseSameSubject(staticTriples)
      else (Seq.empty[Sol], staticTriples)
    val scans = unfusedTriples.map(t => scanTriple(t._1, t._2, t._3)) ++
      fusedScans.map(s => (s, 0))

    // 4. greedy join order: start from the most selective static component,
    //    always join a component sharing variables (no accidental cartesian),
    //    closures after scans so bound endpoints seed their fixpoints,
    //    TS scans last so the static side prunes ids (SURVEY §4 "ID pruning").
    //    Within the same bound-first tier, components order by ESTIMATED
    //    SLICE SIZE from Catalyst plan statistics — file-size-derived for
    //    parquet-backed slices (incl. the persisted store's pruned
    //    partitions), exact for local relations; a driver-side metadata
    //    read, never a job. A star over one skewed predicate then starts
    //    at the smallest slice and semi-prunes the big ones through the
    //    join chain instead of dragging the 100×-larger slice first.
    def sizeHint(s: Sol): BigInt =
      try s.df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    val comps = ArrayBuffer.empty[(BgpComp, (Int, BigInt))] // (comp, (tier, size))
    scans.foreach { case (sol, nConst) =>
      comps += ((SolComp(sol), (2 - nConst, sizeHint(sol))))
    }
    complex.foreach(c => comps += ((c, (3, BigInt(0)))))
    tsComponents.foreach(c => comps += ((SolComp(c), (4, BigInt(0)))))
    var acc = input
    val remaining = comps.sortBy(_._2).map(_._1).toBuffer
    while (remaining.nonEmpty) {
      val idx0 = remaining.indexWhere(c => c.vars.exists(acc.vars.contains))
      val idx = if (idx0 >= 0 || isUnit(acc)) math.max(idx0, 0) else 0
      val next = remaining.remove(idx) match {
        case SolComp(sol) => sol
        case ClosureComp(cs, p, co, mode) =>
          // a closure endpoint variable the accumulated solution already
          // binds becomes the fixpoint's seed set (distinct bound values);
          // the subsequent joinSols on that var makes the restriction exact
          def seedsFor(vt: VarOrTerm): Option[DataFrame] = vt match {
            case V(v) if acc.vars.contains(v) =>
              Some(acc.df.select(col(v).as("seed")).distinct())
            case _ => None
          }
          translateClosure(cs, p, co, mode,
            subjectSeeds = seedsFor(cs), objectSeeds = seedsFor(co))
      }
      acc = joinSols(acc, next)
    }
    acc
  }

  /** A BGP component awaiting the greedy join loop: either an
    * already-translated solution, or a deferred closure whose fixpoint is
    * seeded by whatever the loop has bound by the time it joins. */
  private sealed trait BgpComp { def vars: Seq[String] }
  private case class SolComp(sol: Sol) extends BgpComp {
    def vars: Seq[String] = sol.vars
  }
  private case class ClosureComp(s: VarOrTerm, p: Path, o: VarOrTerm,
      mode: ClosureMode.Value) extends BgpComp {
    def vars: Seq[String] = Seq(s, o).collect { case V(v) => v }.distinct
  }

  /** Scan one constant- or variable-predicate triple against the graph. */
  private def scanTriple(s: VarOrTerm, p: String, o: VarOrTerm): (Sol, Int) = {
    graph.slice(p) match {
      case None if !isVirtual(p) =>
        // variable-predicate patterns land here too via expandVarPredicate;
        // keep the graph var in the (empty) solution so GRAPH ?g over an
        // absent predicate is empty, not an unresolved column
        (emptyScanSol(s, o, graphCtx), nConst(s, o))
      case None => (emptyScanSol(s, o, graphCtx), nConst(s, o)) // virtual, no ts source
      case Some(slice) =>
        // one-shot filter+aliased-select: immune to query vars that shadow
        // the slice's physical column names (s/o/o_lang/g)
        var df = slice.df
        // named-graph context: default-graph matching sees only untagged
        // triples (standard dataset semantics); GRAPH <iri> filters the
        // tag, GRAPH ?g binds it (the shared var enforces same-graph
        // co-location across the pattern's scans). A FROM/FROM NAMED
        // dataset replaces both sides: default = merge of the FROM graphs,
        // GRAPH ranges over FROM NAMED.
        val gVar: Option[String] = (graphCtx, activeDataset) match {
          case (None, None) =>
            if (slice.hasGraph) df = df.filter(col("g").isNull)
            None
          case (None, Some(ds)) =>
            if (!slice.hasGraph || ds.defaults.isEmpty)
              return (emptyScanSol(s, o, graphCtx), nConst(s, o))
            df = df.filter(col("g").isin(ds.defaults: _*))
            if (ds.defaults.size > 1) // merge = set union across FROM graphs
              df = df.dropDuplicates(Seq("s", "o") ++
                (if (slice.hasLang) Seq("o_lang") else Nil))
            None
          case (Some(_), _) if !slice.hasGraph =>
            // slice holds default-graph triples only: no named match
            return (emptyScanSol(s, o, graphCtx), nConst(s, o))
          case (Some(T(t)), ds) =>
            if (ds.exists(d => !d.named.contains(t.canonical)))
              return (emptyScanSol(s, o, graphCtx), nConst(s, o))
            df = df.filter(col("g") === t.canonical); None
          case (Some(V(gv)), None) =>
            df = df.filter(col("g").isNotNull); Some(gv)
          case (Some(V(gv)), Some(ds)) =>
            if (ds.named.isEmpty)
              return (emptyScanSol(s, o, graphCtx), nConst(s, o))
            df = df.filter(col("g").isin(ds.named: _*)); Some(gv)
        }
        s match {
          case T(t) => df = df.filter(col("s") === t.canonical)
          case V(_) =>
        }
        o match {
          case T(t) => df = df.filter(col("o") === lit(termToScala(t, slice.kind)))
          case V(v) => s match {
            case V(sv) if sv == v => df = df.filter(col("s") === col("o"))
            case _ =>
          }
        }
        val vars = ArrayBuffer.empty[String]
        val cols = ArrayBuffer.empty[Column]
        s match {
          case V(v) => vars += v; cols += col("s").as(v)
          case T(_) =>
        }
        o match {
          case V(v) if !vars.contains(v) =>
            vars += v
            cols += col("o").as(v)
            if (slice.hasLang) cols += col("o_lang").as(s"${v}__lang")
          case _ =>
        }
        gVar.foreach { gv =>
          if (!vars.contains(gv)) { vars += gv; cols += col("g").as(gv) }
          else {
            // GRAPH ?g where ?g is also a triple position in the same
            // scan (e.g. GRAPH ?g { ?g ?p ?o }): the graph tag must EQUAL
            // that binding — mirroring the s==o same-variable handling —
            // not be silently dropped
            val bound = s match {
              case V(sv) if sv == gv => col("s")
              case _ => col("o")
            }
            df = df.filter(col("g") === bound)
          }
        }
        if (vars.isEmpty)
          // fully-ground pattern: a boolean guard (at most one matching
          // triple in a set graph) — keep a marker column so the component
          // is not mistaken for the unit solution and dropped
          (Sol(df.limit(1).select(lit(1).as(freshName("guard"))), Nil), nConst(s, o))
        else
          (Sol(df.select(cols.toSeq: _*), vars.toSeq), nConst(s, o))
    }
  }

  private def nConst(s: VarOrTerm, o: VarOrTerm): Int =
    Seq(s, o).count(_.isInstanceOf[T])

  /** Group same-subject-variable triples whose slices all belong to common
    * property-table groups; emit one wide scan (union over the common
    * groups) per fused set. */
  private def fuseSameSubject(
      triples: Seq[(VarOrTerm, String, VarOrTerm)])
    : (Seq[Sol], Seq[(VarOrTerm, String, VarOrTerm)]) = {
    val fusable = triples.filter {
      case (V(sv), p, o) =>
        graph.slice(p).exists(sl => sl.fused.nonEmpty && !sl.hasLang) &&
          (o match { case V(ov) => ov != sv; case _ => true })
      case _ => false
    }
    val rest = ArrayBuffer(triples.filterNot(fusable.contains): _*)
    val fusedSols = ArrayBuffer.empty[Sol]
    fusable.groupBy { case (V(sv), _, _) => sv }.foreach { case (sv, group) =>
      val distinctPreds = group.map(_._2).distinct
      if (group.size < 2 || distinctPreds.size != group.size) {
        rest ++= group // repeated predicates or singleton: scan per slice
      } else {
        val memberSets = group.map { case (_, p, _) =>
          graph.slice(p).get.fused.map(_.groupId).toSet
        }
        val common = memberSets.reduce(_ intersect _)
        if (common.isEmpty) rest ++= group
        else {
          val parts = common.toSeq.sorted.map { g =>
            val members = group.map { case (_, p, o) =>
              (graph.slice(p).get, graph.slice(p).get.fused.find(_.groupId == g).get, o)
            }
            var df = members.head._2.df
            val cols = ArrayBuffer[Column](col("s").as(sv))
            val vars = ArrayBuffer[String](sv)
            members.foreach { case (slice, m, o) =>
              df = df.filter(col(m.objCol).isNotNull)
              o match {
                case V(ov) =>
                  vars += ov; cols += col(m.objCol).as(ov)
                case T(t) =>
                  df = df.filter(col(m.objCol) === lit(termToScala(t, slice.kind)))
              }
            }
            Sol(df.select(cols.toSeq: _*), vars.toSeq)
          }
          fusedSols += parts.reduce { (a, b) =>
            Sol(a.df.unionByName(b.df, allowMissingColumns = false), a.vars)
          }
        }
      }
    }
    (fusedSols.toSeq, rest.toSeq)
  }

  /** Negated-property-set scan: all triples whose predicate is NOT in
    * `excluded`. Long-form view scan; at 100 TB with predicate-partitioned
    * parquet the NOT IN prunes to the complement partition set, and
    * `subjectClass` (an rdf:type pinned elsewhere in the BGP) additionally
    * drops slices whose declared subject classes can't match. */
  private def scanNegated(s: VarOrTerm, excluded: Seq[String], o: VarOrTerm,
      subjectClass: Option[String] = None): Sol = {
    val (df1, gVar) =
      applyGraphCtx(graph.triplesExcept(excluded, subjectClass, withGraph = true))
    var df = df1
    s match {
      case T(t) => df = df.filter(col("s") === t.canonical)
      case V(v) if o == V(v) => df = df.filter(col("s") === col("o"))
      case _ =>
    }
    o match {
      case T(t) => df = df.filter(col("o") === t.canonical)
      case _ =>
    }
    val vars = ArrayBuffer.empty[String]
    val cols = ArrayBuffer.empty[Column]
    s match { case V(v) => vars += v; cols += col("s").as(v); case _ => }
    o match {
      case V(v) if !vars.contains(v) => vars += v; cols += col("o").as(v)
      case _ =>
    }
    gVar.foreach { gv =>
      if (!vars.contains(gv)) { vars += gv; cols += col("g").as(gv) }
      else {
        // GRAPH ?g sharing a variable with the triple: keep the equality
        val bound = s match {
          case V(sv) if sv == gv => col("s")
          case _ => col("o")
        }
        df = df.filter(col("g") === bound)
      }
    }
    if (vars.isEmpty) Sol(df.limit(1).select(lit(1).as(freshName("guard"))), Nil)
    else Sol(df.select(cols.toSeq: _*), vars.toSeq)
  }

  /** Variable-predicate scan over the long-form triples view (slice-pruned
    * by the subject's pinned rdf:type, when known). */
  private def scanVarPredicate(s: VarOrTerm, pv: String, o: VarOrTerm,
      subjectClass: Option[String] = None): Sol = {
    val (df1, gVar) =
      applyGraphCtx(graph.triplesExcept(Nil, subjectClass, withGraph = true))
    var df = df1
    s match {
      case T(t) => df = df.filter(col("s") === t.canonical)
      case V(v) if o == V(v) => df = df.filter(col("s") === col("o"))
      case _ =>
    }
    o match {
      case T(t) => df = df.filter(col("o") === t.canonical)
      case _ =>
    }
    val vars = ArrayBuffer.empty[String]
    val cols = ArrayBuffer.empty[Column]
    s match { case V(v) => vars += v; cols += col("s").as(v); case _ => }
    vars += pv; cols += col("p").as(pv)
    o match {
      case V(v) if !vars.contains(v) => vars += v; cols += col("o").as(v)
      case _ =>
    }
    gVar.foreach { gv =>
      if (!vars.contains(gv)) { vars += gv; cols += col("g").as(gv) }
      else {
        // GRAPH ?g sharing a variable with the triple (subject, the
        // variable predicate, or object): keep the equality constraint
        val bound = s match {
          case V(sv) if sv == gv => col("s")
          case _ => if (gv == pv) col("p") else col("o")
        }
        df = df.filter(col("g") === bound)
      }
    }
    Sol(df.select(cols.toSeq: _*), vars.toSeq)
  }

  /** Apply the named-graph context and any FROM/FROM NAMED dataset to a
    * long-form (withGraph) frame; returns the frame plus the graph variable
    * to bind, if any. Default context keeps only untagged (default-graph)
    * triples — slices without a g column surface it as a constant null,
    * which folds away; under a dataset the default is the merge (set
    * union) of the FROM graphs instead. */
  private def applyGraphCtx(df0: DataFrame): (DataFrame, Option[String]) = {
    var df = df0
    val gv = (graphCtx, activeDataset) match {
      case (None, None) => df = df.filter(col("g").isNull); None
      case (None, Some(ds)) =>
        if (ds.defaults.isEmpty) df = df.limit(0)
        else {
          df = df.filter(col("g").isin(ds.defaults: _*))
          if (ds.defaults.size > 1) df = df.dropDuplicates(Seq("s", "p", "o"))
        }
        None
      case (Some(T(t)), ds) =>
        if (ds.exists(d => !d.named.contains(t.canonical))) df = df.limit(0)
        else df = df.filter(col("g") === t.canonical)
        None
      case (Some(V(gv0)), None) => df = df.filter(col("g").isNotNull); Some(gv0)
      case (Some(V(gv0)), Some(ds)) =>
        if (ds.named.isEmpty) df = df.limit(0)
        else df = df.filter(col("g").isin(ds.named: _*))
        Some(gv0)
    }
    (df, gv)
  }

  private def emptyScanSol(s: VarOrTerm, o: VarOrTerm,
      ctx: Option[VarOrTerm] = None): Sol = {
    // distinct: `?a p ?a` must yield ONE column, not an ambiguous pair
    val vars = (Seq(s, o) ++ ctx.toSeq).collect { case V(v) => v }.distinct
    if (vars.isEmpty) emptySol(Seq(freshName("guard"))).copy(vars = Nil)
    else emptySol(vars)
  }

  private def isVirtual(p: String): Boolean =
    p == Otit.hasDataPoint || p == Otit.hasTimestamp || p == Otit.hasValue ||
      p == Otit.hasDatatype

  /** xsd datatype of the TS source's value column. */
  private lazy val tsValueXsd: String =
    xsdOfSparkType(graph.ts.get.frame.schema("value").dataType)

  /** Value-datatype consistency (the reference's InconsistentDatatype
    * orchestration error, hybrid/src/engine.rs:155-176, + the validate()
    * step at :124-128): every series a TS chain reads data for must declare
    * (under `otit_swt:hasDatatype`) a datatype that stores as the value kind
    * the TS source holds. Kind-level, not IRI-equality — the reference
    * fixtures declare xsd:unsignedInt over integer storage.
    *
    * Split in two so the check happens AFTER the series⋈data join: a series
    * declared with a foreign datatype but holding no data in this TS source
    * (the wind-power case's boolean operational series) must not poison
    * queries over the series that do — Catalyst would push a one-sided
    * `raise_error` projection down into the metadata scan, so the guard
    * expression must straddle the join (declared datatype from the metadata
    * side, guarded column from the data side).
    *
    * `needsDatatypeGuard` is true iff some declared datatype is
    * kind-incompatible with the TS source's storage — only then is the
    * guard worth its plan cost: straddling the series join blocks pushing
    * the query's time filters below it, so attaching it unconditionally
    * would tax every hybrid query for a metadata error almost no graph
    * has. When the hasDatatype slice's optimized plan outputs its object
    * as one constant (a builder that declares every series with the same
    * datatype), the decision reads that literal and fires no job. Otherwise
    * it reads the graph's cached metadata-sized distinct of the slice
    * ([[TriplesGraph.declaredTsDatatypes]], one tiny job per graph). The
    * constant path is conservative: over an EMPTY slice an incompatible
    * constant adds a guard that can never fire. */
  private lazy val needsDatatypeGuard: Boolean =
    graph.slice(Otit.hasDatatype).exists { dsl =>
      val actualKind = OKind.ofDatatype(tsValueXsd)
      val declared =
        constantObject(dsl.df).map(Seq(_)).getOrElse(graph.declaredTsDatatypes)
      declared.exists(dt => OKind.ofDatatype(dt) != actualKind)
    }

  /** The slice's object as a string when the optimizer reduces it to one
    * non-null string literal — no job, just Catalyst's optimized plan. */
  private def constantObject(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
    val out = df.select(col("o").cast(StringType)).queryExecution.optimizedPlan match {
      case p: Project => p.projectList
      case a: Aggregate => a.aggregateExpressions
      case _ => Nil
    }
    out match {
      case Seq(Alias(Literal(v: org.apache.spark.unsafe.types.UTF8String,
          _: StringType), _)) => Some(v.toString)
      case _ => None
    }
  }

  private def attachDeclaredDatatype(df: DataFrame, entityCol: String)
    : (DataFrame, Option[String]) = graph.slice(Otit.hasDatatype) match {
    case Some(dsl) if needsDatatypeGuard =>
      val ds = freshName("dts"); val dv = freshName("dtv")
      // one row per series: a subject with two distinct declared datatypes
      // would otherwise duplicate every joined data point — that is a graph
      // inconsistency, surfaced as an error, not silent row multiplication
      val dmap = dsl.df.select(col("s").as(ds), col("o").cast(StringType).as(dv))
        .groupBy(ds).agg(collect_set(col(dv)).as(dv))
        .select(col(ds),
          when(size(col(dv)) > 1, raise_error(concat(
            lit("conflicting declared time-series datatypes for series "),
            col(ds), lit(": "), concat_ws(", ", col(dv)))))
            .otherwise(col(dv).getItem(0)).as(dv))
      (df.join(dmap, df(entityCol) === dmap(ds), "left_outer").drop(ds), Some(dv))
    case _ => (df, None)
  }

  /** `onCol`, guarded: raises when the declared datatype column `dv` is
    * bound but stores as a different value kind than the TS source. */
  private def datatypeGuarded(dv: String, onCol: Column): Column = {
    val knownNonStr: Seq[String] =
      (Xsd.numericLong ++ Xsd.numericDouble ++ Set(Xsd.boolean, Xsd.dateTime,
        Xsd.date, Xsd.dateTimeStamp)).toSeq
    val compatible: Column = OKind.ofDatatype(tsValueXsd) match {
      case OKind.KLong => col(dv).isin(Xsd.numericLong.toSeq: _*)
      case OKind.KDbl => col(dv).isin(Xsd.numericDouble.toSeq: _*)
      case OKind.KBool => col(dv) === Xsd.boolean
      case OKind.KTs => col(dv).isin(Xsd.dateTime, Xsd.date, Xsd.dateTimeStamp)
      case _ => !col(dv).isin(knownNonStr: _*)
    }
    when(col(dv).isNotNull && !compatible,
      raise_error(concat(
        lit("inconsistent time-series datatypes: graph declares "), col(dv),
        lit(s" under ${Otit.hasDatatype} but the time-series source stores " +
          tsValueXsd))))
      .otherwise(onCol)
  }

  /** Component for a `?ts otit_swt:hasDatatype ?dt` pattern when the graph
    * declares NO hasDatatype triples of its own: series entities come from
    * the hasExternalId slice, the datatype is the TS source's actual value
    * type. (When the graph does declare them, the pattern scans that slice
    * like any other — binding the graph-declared IRI, reference behavior —
    * and the kind-level consistency check above has already run.) */
  private def datatypeSol(s: VarOrTerm, o: VarOrTerm): Sol = {
    val extSlice = graph.slice(Otit.hasExternalId).getOrElse(
      throw new IllegalArgumentException(
        s"graph has no ${Otit.hasExternalId} triples but a ${Otit.hasDatatype} " +
          "pattern needs them to enumerate series entities"))
    var df = extSlice.df
    s match {
      case T(t) => df = df.filter(col("s") === t.canonical)
      case V(sv) if o == V(sv) =>
        // subject (a series node) can only equal the object (a datatype IRI)
        // never — but express it as the filter, not a hand-empty frame
        df = df.filter(col("s") === lit(tsValueXsd))
      case _ =>
    }
    o match {
      case T(t) if t.canonical != tsValueXsd => df = df.limit(0)
      case _ =>
    }
    val vars = ArrayBuffer.empty[String]
    val cols = ArrayBuffer.empty[Column]
    s match { case V(v) => vars += v; cols += col("s").as(v); case _ => }
    o match {
      case V(v) if !vars.contains(v) => vars += v; cols += lit(tsValueXsd).as(v)
      case _ =>
    }
    if (vars.isEmpty) Sol(df.limit(1).select(lit(1).as(freshName("guard"))), Nil)
    else Sol(df.select(cols.toSeq: _*), vars.toSeq)
  }

  // ------------------------------------------------- time-series rewrite
  /** Group virtual triples by data-point variable; emit one TS scan per
    * chain, with the graph's `hasExternalId` slice providing the
    * entity→series-id binding (mirrors the reference's injected
    * `?ts otit_swt:hasExternalId ?id` triples, rewriting/graph_patterns/
    * bgp_pattern.rs:26-77 — but here it is one join in one plan).
    *
    * Data points are bound to a synthetic stable key `id@epochMicros` so a
    * dangling `?dp otit_swt:hasValue ?v` in another scope (MINUS, EXISTS)
    * still joins correctly on ?dp.
    */
  private def extractTsComponents(
      triples: Seq[(VarOrTerm, String, VarOrTerm)])
    : (Seq[Sol], Seq[(VarOrTerm, String, VarOrTerm)]) = {
    val ts = graph.ts
    if (ts.isEmpty || !triples.exists(t => isVirtual(t._2)))
      return (Nil, triples)
    val tsDf = ts.get.frame
    val dpKey = concat(col("id"), lit("@"), unix_micros(col("ts")).cast(StringType))

    val (dtTriples0, virtualT) =
      triples.filter(t => isVirtual(t._2)).partition(_._2 == Otit.hasDatatype)
    val static = ArrayBuffer.empty[(VarOrTerm, String, VarOrTerm)]
    static ++= triples.filterNot(t => isVirtual(t._2))
    // graph-declared hasDatatype triples scan their slice like any static
    // predicate (the per-series consistency guard rides the chain's
    // series-metadata join); only a graph with no declaration synthesizes
    // the binding from the TS source's actual value type
    val dtTriples =
      if (graph.slice(Otit.hasDatatype).isDefined) { static ++= dtTriples0; Nil }
      else dtTriples0

    // chains keyed by dp variable name
    case class Chain(var tsEnt: Option[VarOrTerm] = None,
        var tVar: Option[String] = None, var vVar: Option[String] = None)
    val chains = scala.collection.mutable.LinkedHashMap.empty[String, Chain]
    def chainOf(dp: String): Chain = chains.getOrElseUpdate(dp, Chain())
    virtualT.foreach {
      case (s, p, o) if p == Otit.hasDataPoint =>
        val dp = o match {
          case V(v) => v
          case T(_) => throw new IllegalArgumentException("constant data point")
        }
        chainOf(dp).tsEnt = Some(s)
      case (s, p, V(ov)) if p == Otit.hasTimestamp =>
        chainOf(varName(s)).tVar = Some(ov)
      case (s, p, V(ov)) if p == Otit.hasValue =>
        chainOf(varName(s)).vVar = Some(ov)
      case other =>
        throw new IllegalArgumentException(s"unsupported virtual triple $other")
    }

    val comps = chains.map { case (dpVar, c) =>
      val cols = ArrayBuffer[Column](dpKey.as(dpVar))
      val vars = ArrayBuffer[String](dpVar)
      c.tVar.foreach { t => cols += col("ts").as(t); vars += t }
      c.vVar.foreach { v => cols += col("value").as(v); vars += v }
      c.tsEnt match {
        case Some(ent) =>
          // bind the series entity through hasExternalId
          val extSlice = graph.slice(Otit.hasExternalId).getOrElse(
            throw new IllegalArgumentException(
              s"graph has no ${Otit.hasExternalId} triples but a TS chain needs them"))
          val extKey = freshName("extid")
          val entVars = ArrayBuffer.empty[String]
          val entTmp = freshName("ent")
          val ext0 = ent match {
            case V(ev) =>
              entVars += ev
              extSlice.df.select(col("s").as(ev), col("o").as(extKey))
            case T(t) =>
              extSlice.df.filter(col("s") === t.canonical)
                .select(col("s").as(entTmp), col("o").as(extKey))
          }
          val (ext1, dvOpt) = attachDeclaredDatatype(ext0,
            ent match { case V(ev) => ev; case T(_) => entTmp })
          val ext = ent match { case T(_) => ext1.drop(entTmp); case _ => ext1 }
          val scan = tsDf.select((col("id") +: cols.toSeq): _*)
          var joined = ext.join(scan, col(extKey) === scan("id"), "inner")
            .drop(extKey).drop("id")
          // the guard straddles the join: declared datatype (metadata side)
          // vs data-side columns — evaluated only for series that actually
          // contribute data points to this chain. Folded into EVERY data
          // column (dp key, timestamp, value): column pruning keeps only
          // what the query consumes, and whichever survives must carry it
          dvOpt.foreach { dv =>
            for (v <- dpVar +: (c.tVar.toSeq ++ c.vVar.toSeq))
              joined = joined.withColumn(v, datatypeGuarded(dv, col(v)))
            joined = joined.drop(dv)
          }
          Sol(joined, entVars.toSeq ++ vars.toSeq)
        case None =>
          Sol(tsDf.select(cols.toSeq: _*), vars.toSeq)
      }
    }.toSeq
    val dtComps = dtTriples.map { case (s, _, o) => datatypeSol(s, o) }
    (comps ++ dtComps, static.toSeq)
  }

  private def varName(v: VarOrTerm): String = v match {
    case V(n) => n
    case T(t) => throw new IllegalArgumentException(s"expected variable, got $t")
  }

  // ------------------------------------------------------------- closures
  private object ClosureMode extends Enumeration {
    val ZeroOrMore, OneOrMore, ZeroOrOne = Value
  }

  /** Iterative fixpoint for `*`/`+` paths (SURVEY §7.2 item 5: the genuinely
    * hard new piece — DataFrame join-until-fixpoint with localCheckpoint to
    * cut lineage; the reference delegates paths to its external endpoint).
    *
    * Runs to TRUE fixpoint (frontier empty). `maxIters` is a runaway guard
    * only — hitting it throws rather than silently returning the partial
    * closure (a chain deeper than the cap would otherwise be a wrong-answer
    * bug that only shows at scale). Iterations grow the frontier one hop per
    * round, so the cap bounds graph *diameter*, not size.
    *
    * Anchored evaluation: when an endpoint is a constant — or the caller
    * passes the incoming solution's already-bound values for it — the
    * fixpoint seeds the frontier at those nodes and iterates only the
    * reachable set. `<s> p+ ?o` is O(reach(s)) frontier work instead of
    * materializing the whole graph's closure and filtering afterwards
    * (O(|V|·avg-reach) — the one true scale-killer on a large graph).
    * Object-side anchors iterate the inverted edge set and swap back at the
    * end. Iteration count then tracks the seeds' reach depth, not the graph
    * diameter (ClosureSeedSpec pins this via the runaway guard).
    */
  private def translateClosure(s: VarOrTerm, p: Path, o: VarOrTerm,
      mode: ClosureMode.Value, maxIters: Int = closureMaxIters,
      subjectSeeds: Option[DataFrame] = None,
      objectSeeds: Option[DataFrame] = None): Sol = {
    val a = freshName("ca"); val b = freshName("cb")
    val stepSol = translatePattern(Bgp(Seq(TriplePattern(V(a), p, V(b)))), unitSol)
    // under GRAPH ?g the step scan binds the graph var: edges carry their
    // graph tag and the fixpoint extends pairs only WITHIN one graph (the
    // step join matches the tag), so paths never cross graph boundaries
    val gVar = graphCtx.collect { case V(gv) => gv }
    val gCol = gVar.map(_ => freshName("cg"))
    val edgeCols = Seq(col(a).as("src"), col(b).as("dst")) ++
      gVar.zip(gCol).map { case (gv, gc) => col(gv).as(gc) }
    val edgesFwd = stepSol.df.select(edgeCols: _*).distinct()
      .localCheckpoint()
    // anchor preference: constant endpoint > subject seeds > object seeds
    // (subject anchors iterate forward; object anchors invert the edges).
    // Each seed frame is a single-column "seed" DataFrame.
    def constSeed(t: Term) =
      spark.createDataFrame(Seq(Tuple1(t.canonical))).toDF("seed")
    val anchor: Option[(Boolean, DataFrame)] = (s, o) match {
      case (T(t), _) => Some((true, constSeed(t)))
      case (_, T(t)) => Some((false, constSeed(t)))
      case _ => subjectSeeds.map((true, _)).orElse(objectSeeds.map((false, _)))
    }
    val fwd = anchor.forall(_._1)
    val keep = gCol.toSeq.map(col)
    val edges =
      if (fwd) edgesFwd
      else edgesFwd.select(
        (Seq(col("dst").as("src"), col("src").as("dst")) ++ keep): _*)
    val seedDf = anchor.map(_._2.select(col("seed").cast(StringType)).distinct()
      .localCheckpoint())
    var acc = seedDf match {
      case Some(sd) =>
        // seed-restricted one-hop edges: only pairs rooted at a seed enter
        // the fixpoint, so acc never holds a pair the query can't use.
        // (Under GRAPH ?g seeds restrict src across all graphs — a superset
        // of what's needed; the final join on the graph var makes it exact.)
        edges.join(sd, edges("src") === sd("seed"), "left_semi").localCheckpoint()
      case None => edges
    }
    if (mode == ClosureMode.ZeroOrMore || mode == ClosureMode.OneOrMore) {
      var frontier = acc
      var i = 0
      var done = false
      while (!done) {
        if (i >= maxIters)
          throw new IllegalStateException(
            s"property-path closure did not converge within $maxIters iterations " +
              "(graph diameter exceeds the runaway guard; raise maxIters)")
        val g2 = gCol.map(_ => freshName("cg2"))
        var stepEdges = edges.withColumnRenamed("src", "m")
          .withColumnRenamed("dst", "d2")
        gCol.zip(g2).foreach { case (gc, gc2) =>
          stepEdges = stepEdges.withColumnRenamed(gc, gc2)
        }
        val joinCond = gCol.zip(g2).foldLeft(col("dst") === col("m")) {
          case (c, (gc, gc2)) => c && col(gc) === col(gc2)
        }
        val stepped = frontier.join(stepEdges, joinCond)
          .select((Seq(col("src"), col("d2").as("dst")) ++ keep): _*).distinct()
        // Plain localCheckpoint is SAFE here against the planner-stats
        // overflow that hit the CC/k-core loops (T.checkpointFlatStats):
        // this recurrence is product-free — Except's size visitor takes
        // the LEFT child's size and Union SUMS — so the propagated
        // estimate grows linearly per round (one edge-frame factor), not
        // exponentially; the flat-stats rebuild would only add a
        // per-round Row re-encode of the accumulated closure.
        val next = stepped.except(acc).localCheckpoint()
        if (next.isEmpty) done = true
        else {
          // no .distinct(): `next` is already distinct (except-output) and
          // disjoint from `acc`, so the union is duplicate-free — a distinct
          // here would pay one extra full shuffle of the accumulated closure
          // per round (O(diameter) needless shuffles on deep paths at scale)
          acc = acc.union(next).localCheckpoint()
          frontier = next
          i += 1
        }
      }
    }
    if (mode == ClosureMode.ZeroOrMore || mode == ClosureMode.ZeroOrOne) {
      // zero-length: each node reaches itself — within the graph(s) the
      // query is actually ranging over. Anchored → only seed nodes that
      // occur there (same result the unanchored identity∪filter produced,
      // without touching the full node set at scale). Under GRAPH ?g, per
      // named graph: a node reaches itself in the graphs whose triples
      // mention it; a FROM/FROM NAMED dataset restricts both sides.
      val idBase: DataFrame = (gCol, graphCtx, activeDataset) match {
        case (Some(gc), _, ds) =>
          val base = ds match {
            case Some(d) if d.named.isEmpty => graph.namedGraphNodes.limit(0)
            case Some(d) => graph.namedGraphNodes
              .filter(col("g").isin(d.named: _*))
            case None => graph.namedGraphNodes
          }
          base.select(col("node"), col("g").as(gc))
        case (None, Some(T(t)), ds) =>
          if (ds.exists(d => !d.named.contains(t.canonical)))
            graph.nodes.limit(0)
          else graph.namedGraphNodes
            .filter(col("g") === t.canonical).select(col("node"))
        case (None, None, Some(ds)) =>
          if (ds.defaults.isEmpty) graph.nodes.limit(0)
          else graph.namedGraphNodes
            .filter(col("g").isin(ds.defaults: _*))
            .select(col("node")).distinct()
        // default graph, no dataset: on a quad store the identity base is
        // the default-graph node set — graph.nodes would wrongly self-match
        // nodes that occur only in named graphs (r6 ADVICE)
        case _ => graph.defaultGraphNodes
      }
      val idNodes = seedDf match {
        case Some(sd) => idBase.join(sd, col("node") === sd("seed"), "left_semi")
        case None => idBase
      }
      val identity = idNodes.select(
        (Seq(col("node").as("src"), col("node").as("dst")) ++ keep): _*)
      acc = identity.union(acc).distinct()
    }
    // constrain endpoints (aliased one-shot select, see scanTriple)
    var df = if (fwd) acc
      else acc.select((Seq(col("dst").as("src"), col("src").as("dst")) ++ keep): _*)
    s match {
      case T(t) => df = df.filter(col("src") === t.canonical)
      case V(v) if o == V(v) => df = df.filter(col("src") === col("dst"))
      case _ =>
    }
    o match {
      case T(t) => df = df.filter(col("dst") === t.canonical)
      case _ =>
    }
    val vars = ArrayBuffer.empty[String]
    val cols = ArrayBuffer.empty[Column]
    s match { case V(v) => vars += v; cols += col("src").as(v); case _ => }
    o match {
      case V(v) if !vars.contains(v) => vars += v; cols += col("dst").as(v)
      case _ =>
    }
    gVar.zip(gCol).foreach { case (gv, gc) =>
      if (!vars.contains(gv)) { vars += gv; cols += col(gc).as(gv) }
    }
    if (vars.isEmpty) Sol(df.limit(1).select(lit(1).as(freshName("guard"))), Nil)
    else Sol(df.select(cols.toSeq: _*), vars.toSeq)
  }

  // ---------------------------------------------------------- expressions
  /** Replace EXISTS sub-expressions with marker columns computed via
    * distinct semi-marker joins; returns the rewritten expr, the augmented
    * solution and the marker column names to drop afterwards. */
  private def materializeExists(e: Expr, sol: Sol): (Expr, Sol, Seq[String]) = {
    var cur = sol
    val markers = ArrayBuffer.empty[String]
    def go(x: Expr): Expr = x match {
      case EExists(p, negated) =>
        val inner = translatePattern(p, unitSol)
        val shared = cur.vars.intersect(inner.vars)
        val m = freshName("exists")
        markers += m
        if (shared.isEmpty) {
          // No shared vars: EXISTS is a single global boolean, but deciding
          // it here would run a job mid-planning. Stay lazy: left-join every
          // row against limit(1) of the inner pattern — the marker is
          // non-null for all rows iff the pattern has any solution.
          val flagDf = inner.df.limit(1).select(lit(true).as(m))
          cur = Sol(cur.df.join(flagDf, lit(true), "left_outer"), cur.vars)
          if (negated) EFunc("__marker_null", Seq(EVar(m)))
          else EFunc("__marker_notnull", Seq(EVar(m)))
        } else {
          val flagDf = inner.df.select(shared.map(col): _*).distinct()
            .withColumn(m, lit(true))
          cur = Sol(cur.df.join(flagDf, shared, "left_outer"), cur.vars)
          if (negated) EFunc("__marker_null", Seq(EVar(m)))
          else EFunc("__marker_notnull", Seq(EVar(m)))
        }
      case ENot(a) => ENot(go(a))
      case EAnd(a, b) => EAnd(go(a), go(b))
      case EOr(a, b) => EOr(go(a), go(b))
      case ECmp(op, a, b) => ECmp(op, go(a), go(b))
      case EArith(op, a, b) => EArith(op, go(a), go(b))
      case ENeg(a) => ENeg(go(a))
      case EIn(a, list, n) => EIn(go(a), list.map(go), n)
      case EFunc(n, args) => EFunc(n, args.map(go))
      case EIf(c, t, f) => EIf(go(c), go(t), go(f))
      case ECoalesce(args) => ECoalesce(args.map(go))
      case other => other
    }
    val e2 = go(e)
    (e2, cur, markers.toSeq)
  }

  private def translateExprJoined(e: Expr, l: Sol, r: Sol): Column =
    translateExpr(e, Sol(l.df.crossJoin(r.df.limit(0)), l.vars ++ r.vars))

  private[graft] def translateExpr(e: Expr, sol: Sol): Column = {
    def langColOf(v: String): Column =
      if (sol.df.columns.contains(s"${v}__lang"))
        coalesce(col(s"${v}__lang"), lit("")) else lit("")
    def c(x: Expr): Column = x match {
      case EVar(v) => col(v)
      case ETerm(t) => termLit(t)
      case ENot(a) => !c(a)
      case EAnd(a, b) => c(a) && c(b)
      case EOr(a, b) => c(a) || c(b)
      case ECmp("=", a, b) => c(a) === c(b)
      case ECmp("!=", a, b) => c(a) =!= c(b)
      case ECmp("<", a, b) => c(a) < c(b)
      case ECmp("<=", a, b) => c(a) <= c(b)
      case ECmp(">", a, b) => c(a) > c(b)
      case ECmp(">=", a, b) => c(a) >= c(b)
      case ECmp(op, _, _) => throw new IllegalArgumentException(s"cmp $op")
      case EArith('+', a, b) => c(a) + c(b)
      case EArith('-', a, b) => c(a) - c(b)
      case EArith('*', a, b) => c(a) * c(b)
      case EArith('/', a, b) => c(a) / c(b)
      case EArith(op, _, _) => throw new IllegalArgumentException(s"arith $op")
      case ENeg(a) => -c(a)
      case EIn(a, list, negated) =>
        val any = list.map(e0 => c(a) === c(e0)).reduceOption(_ || _).getOrElse(lit(false))
        if (negated) !any else any
      case EIf(cc, t, f) => when(c(cc), c(t)).otherwise(c(f))
      case ECoalesce(args) => coalesce(args.map(c): _*)
      case EBound(v) => col(v).isNotNull // fixes reference bug (SURVEY §2.7 BOUND)
      case EExists(_, _) =>
        throw new IllegalStateException("EXISTS must be materialized before translation")
      case EAgg(_) =>
        throw new IllegalStateException("aggregate outside grouped query")
      case EFunc(name, args) => fn(name, args)
    }
    /** SPARQL REGEX/REPLACE flags → Java inline-flag group prefix. Empty
      * flags add no group (bare `(?)` is an invalid Java pattern); literal
      * flags are validated against Java's inline set up front — SPARQL's `q`
      * has no Java inline equivalent, so it fails with a clear
      * unsupported-flag message instead of an opaque regex parse error.
      * Non-literal flags expressions build the group conditionally per row. */
    def flaggedPattern(flagsExpr: Expr, pat: Column, flags: Column): Column =
      flagsExpr match {
        case ETerm(Lit(lex, _, _)) =>
          if (lex.isEmpty) pat
          else if (!lex.forall("imsux".contains(_)))
            throw new IllegalArgumentException(
              s"unsupported REGEX/REPLACE flag(s) '${lex.filterNot("imsux".contains(_))}'" +
                " — Java inline flags support [imsux]")
          else concat(lit(s"(?$lex)"), pat)
        case _ =>
          when(flags.isNull || length(flags) === 0, pat)
            .otherwise(concat(lit("(?"), flags, lit(")"), pat))
      }
    def fn(name: String, args: Seq[Expr]): Column = {
      val a = args.map(c)
      name match {
        case "__marker_notnull" => a(0).isNotNull
        case "__marker_null" => a(0).isNull
        case "year" => year(a(0))
        case "month" => month(a(0))
        case "day" => dayofmonth(a(0))
        case "hours" | "hour" => hour(a(0))
        case "minutes" | "minute" => minute(a(0))
        case "seconds" | "second" => second(a(0))
        case "floor" => floor(a(0))
        case "ceil" => ceil(a(0))
        case "abs" => abs(a(0))
        case "round" => round(a(0))
        case "concat" => concat(a.map(_.cast(StringType)): _*)
        case "substr" =>
          if (a.size >= 3) a(0).substr(a(1), a(2))
          else a(0).substr(a(1), length(a(0)))
        case "strlen" => length(a(0))
        case "ucase" => upper(a(0))
        case "lcase" => lower(a(0))
        case "contains" => a(0).contains(a(1))
        case "strstarts" => a(0).startsWith(a(1))
        case "strends" => a(0).endsWith(a(1))
        case "replace" =>
          // flags become a Java-regex inline group, same idiom as REGEX below
          if (a.size >= 4)
            regexp_replace(a(0), flaggedPattern(args(3), a(1), a(3)), a(2))
          else regexp_replace(a(0), a(1), a(2))
        case "regex" =>
          if (args.size >= 3) regexp_like(a(0), flaggedPattern(args(2), a(1), a(2)))
          else regexp_like(a(0), a(1))
        case "str" => a(0).cast(StringType)
        case "lang" => args.head match {
          case EVar(v) => langColOf(v)
          case _ => lit("")
        }
        case "langmatches" =>
          // RFC 4647 basic filtering: "*" matches any non-empty tag; a range
          // matches the tag exactly or as a prefix followed by '-',
          // case-insensitively
          val tag = lower(a(0))
          val range = lower(a(1))
          when(range === "*", tag =!= "")
            .otherwise(tag === range || tag.startsWith(concat(range, lit("-"))))
        case "iri" | "uri" =>
          // no BASE in this engine: the argument's string form IS the IRI
          a(0).cast(StringType)
        case "bnode" =>
          // BNODE(): fresh id per row; BNODE(str): stable id per lexical.
          // Fresh ids are RETRY-STABLE: content hash of the whole row plus a
          // per-duplicate counter. Identical rows are interchangeable, so the
          // (row, id) multiset is deterministic across executions and task
          // retries — unlike monotonically_increasing_id, whose ids depend on
          // nondeterministic row→partition placement. Costs one
          // hash-partitioned window shuffle, paid only by minting queries;
          // the hash distributes uniformly so the window has no skew.
          if (a.isEmpty) {
            val rowCols = sol.df.columns.toSeq.map(col(_).cast(StringType))
            val h = xxhash64((lit(0) +: rowCols): _*)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(h).orderBy(lit(1))
            concat(lit("_:b"), hex(h), lit("r"),
              row_number().over(w).cast(StringType))
          } else concat(lit("_:b"), md5(a(0).cast(StringType)))
        case "strdt" =>
          // STRDT(lexical, datatypeIRI): the datatype must be a constant IRI
          val dt = args(1) match {
            case ETerm(Iri(d)) => d
            case other =>
              throw new IllegalArgumentException(s"STRDT needs a constant datatype IRI, got $other")
          }
          a(0).cast(StringType).cast(OKind.sparkType(OKind.ofDatatype(dt)))
        case "datatype" => args.head match {
          case EVar(v) =>
            // literal datatype from the column's Spark type; lang-tagged
            // strings (non-empty companion) are rdf:langString
            val base = lit(xsdOfSparkType(sol.df.schema(v).dataType))
            if (sol.df.columns.contains(s"${v}__lang"))
              when(langColOf(v) =!= "", lit(Xsd.langString)).otherwise(base)
            else base
          case ETerm(Lit(_, dt, lang)) =>
            lit(lang.map(_ => Xsd.langString).getOrElse(dt))
          case other =>
            throw new IllegalArgumentException(
              s"datatype() supports variables and literals, got $other")
        }
        case "sameterm" =>
          // concat() on one side keeps identical semantics (identity on a
          // single string, null-propagating) while making the two operands
          // structurally distinct — sameTerm(?x, ?x) is legitimate SPARQL
          // and must not trip Spark's trivially-true-predicate warning
          a(0).cast(StringType) === concat(a(1).cast(StringType))
        case "isnumeric" => a(0).cast(DoubleType).isNotNull
        // term-kind tests on the canonical string form: IRIs carry a scheme
        // prefix, blank nodes "_:"; everything else is a literal
        case "isiri" | "isuri" =>
          regexp_like(a(0).cast(StringType), lit("^[A-Za-z][A-Za-z0-9+.-]*:"))
        case "isblank" => a(0).cast(StringType).startsWith("_:")
        case "isliteral" =>
          a(0).isNotNull &&
            !regexp_like(a(0).cast(StringType), lit("^[A-Za-z][A-Za-z0-9+.-]*:")) &&
            !a(0).cast(StringType).startsWith("_:")
        case "strbefore" =>
          val pos = call_function("instr", a(0).cast(StringType), a(1).cast(StringType))
          when(length(a(1)) === 0, lit(""))
            .when(pos > 0, a(0).cast(StringType).substr(lit(1), pos - 1))
            .otherwise(lit(""))
        case "strafter" =>
          val pos = call_function("instr", a(0).cast(StringType), a(1).cast(StringType))
          when(length(a(1)) === 0, a(0).cast(StringType))
            .when(pos > 0,
              a(0).cast(StringType).substr(pos + length(a(1)), length(a(0))))
            .otherwise(lit(""))
        case "encode_for_uri" =>
          // url_encode is form-encoding; RFC 3986 wants %20 for space
          regexp_replace(url_encode(a(0).cast(StringType)), "\\+", "%20")
        case "md5" => md5(a(0).cast(StringType))
        case "sha1" => sha1(a(0).cast(StringType))
        case "sha256" => sha2(a(0).cast(StringType), 256)
        case "sha384" => sha2(a(0).cast(StringType), 384)
        case "sha512" => sha2(a(0).cast(StringType), 512)
        case "uuid" => concat(lit("urn:uuid:"), expr("uuid()"))
        case "struuid" => expr("uuid()")
        case "now" => current_timestamp() // query-constant in Spark
        case "rand" => rand()
        case "tz" => lit("Z") // every stored instant is UTC in this engine
        case Xsd.integer | Xsd.int | Xsd.long | Xsd.unsignedInt | Xsd.unsignedLong =>
          a(0).cast(LongType)
        case Xsd.double | Xsd.float | Xsd.decimal => a(0).cast(DoubleType)
        case Xsd.string => a(0).cast(StringType)
        case Xsd.boolean => a(0).cast(BooleanType)
        case Xsd.dateTime => a(0).cast(TimestampType)
        case Otit.like => regexp_like(a(0).cast(StringType), a(1))
        case Otit.dateTimeAsSeconds => unix_timestamp(a(0))
        case Otit.secondsAsDateTime => timestamp_seconds(a(0))
        case Otit.dateTimeAsNanos => unix_micros(a(0)) * 1000L
        case Otit.nanosAsDateTime => timestamp_micros((a(0) / 1000L).cast(LongType))
        case other if extraFunctions.contains(other) => extraFunctions(other)(a)
        case other => throw new IllegalArgumentException(s"unknown function $other")
      }
    }
    c(e)
  }

  private def xsdOfSparkType(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => Xsd.integer
    case DoubleType | FloatType => Xsd.double
    case _: DecimalType => Xsd.decimal
    case BooleanType => Xsd.boolean
    case TimestampType => Xsd.dateTime
    case _ => Xsd.string
  }

  private def termLit(t: Term): Column = t match {
    case Iri(v) => lit(v)
    case Blank(id) => lit("_:" + id)
    case Lit(lex, dt, _) =>
      if (Xsd.numericLong(dt)) lit(lex.toLong)
      else if (Xsd.numericDouble(dt)) lit(lex.toDouble)
      else if (dt == Xsd.boolean) lit(lex.toBoolean)
      else if (dt == Xsd.dateTime || dt == Xsd.date)
        lit(Xsd.parseTimestamp(lex))
      else lit(lex)
  }

  // ------------------------------------------------------------- queries
  private def translateQuery(q: SelectQuery, input: Sol): Sol = {
    val whereSol = translatePattern(q.where, input)
    val projected =
      if (q.hasAggregates) translateGrouped(q, whereSol)
      else translateSimple(q, whereSol)
    projected
  }

  private def translateSimple(q: SelectQuery, whereSol: Sol): Sol = {
    var sol = whereSol
    // computed projections
    q.projection.filter(_.expr.isDefined).foreach { pi =>
      sol = Sol(sol.df.withColumn(pi.v, translateExpr(pi.expr.get, sol)),
        sol.vars :+ pi.v)
    }
    val projVars = if (q.projection.isEmpty) sol.vars else q.projection.map(_.v)
    finishQuery(q, sol, projVars)
  }

  private def translateGrouped(q: SelectQuery, whereSol: Sol): Sol = {
    var df = whereSol.df
    // group keys (vars or computed)
    val keyNames = ArrayBuffer.empty[String]
    q.groupBy.foreach { k =>
      k.expr match {
        case Some(e) =>
          df = df.withColumn(k.v, translateExpr(e, Sol(df, whereSol.vars)))
        case None =>
      }
      keyNames += k.v
    }
    // collect aggregates from projection / having / order keys
    val aggMap = scala.collection.mutable.LinkedHashMap.empty[Aggregate, String]
    def collectAggs(e: Expr): Unit = e match {
      case EAgg(a) => if (!aggMap.contains(a)) aggMap(a) = freshName("agg")
      case ENot(x) => collectAggs(x)
      case EAnd(l, r) => collectAggs(l); collectAggs(r)
      case EOr(l, r) => collectAggs(l); collectAggs(r)
      case ECmp(_, l, r) => collectAggs(l); collectAggs(r)
      case EArith(_, l, r) => collectAggs(l); collectAggs(r)
      case ENeg(x) => collectAggs(x)
      case EIn(x, list, _) => collectAggs(x); list.foreach(collectAggs)
      case EFunc(_, args) => args.foreach(collectAggs)
      case EIf(c0, t, f) => collectAggs(c0); collectAggs(t); collectAggs(f)
      case ECoalesce(args) => args.foreach(collectAggs)
      case _ =>
    }
    q.projection.flatMap(_.expr).foreach(collectAggs)
    q.having.foreach(collectAggs)
    q.orderBy.map(_.expr).foreach(collectAggs)

    val preSol = Sol(df, whereSol.vars ++ keyNames.diff(whereSol.vars))
    val aggCols = aggMap.map { case (a, name) => translateAgg(a, preSol).as(name) }.toSeq
    val grouped =
      if (keyNames.isEmpty) df.groupBy().agg(aggCols.head, aggCols.tail: _*)
      else df.groupBy(keyNames.toSeq.map(col): _*).agg(aggCols.head, aggCols.tail: _*)

    // rewrite aggregates to their generated columns in downstream expressions
    def rewrite(e: Expr): Expr = e match {
      case EAgg(a) => EVar(aggMap(a))
      case ENot(x) => ENot(rewrite(x))
      case EAnd(l, r) => EAnd(rewrite(l), rewrite(r))
      case EOr(l, r) => EOr(rewrite(l), rewrite(r))
      case ECmp(op, l, r) => ECmp(op, rewrite(l), rewrite(r))
      case EArith(op, l, r) => EArith(op, rewrite(l), rewrite(r))
      case ENeg(x) => ENeg(rewrite(x))
      case EIn(x, list, n) => EIn(rewrite(x), list.map(rewrite), n)
      case EFunc(n, args) => EFunc(n, args.map(rewrite))
      case EIf(c0, t, f) => EIf(rewrite(c0), rewrite(t), rewrite(f))
      case ECoalesce(args) => ECoalesce(args.map(rewrite))
      case other => other
    }

    var sol = Sol(grouped, keyNames.toSeq ++ aggMap.values)
    q.projection.filter(_.expr.isDefined).foreach { pi =>
      sol = Sol(sol.df.withColumn(pi.v, translateExpr(rewrite(pi.expr.get), sol)),
        sol.vars :+ pi.v)
    }
    q.having.foreach { h =>
      sol = Sol(sol.df.filter(translateExpr(rewrite(h), sol)), sol.vars)
    }
    val projVars = if (q.projection.isEmpty) keyNames.toSeq else q.projection.map(_.v)
    finishQuery(q.copy(having = None,
      orderBy = q.orderBy.map(k => k.copy(expr = rewrite(k.expr)))), sol, projVars)
  }

  private def finishQuery(q: SelectQuery, sol0: Sol, projVars: Seq[String]): Sol = {
    var df = sol0.df
    if (q.distinct || q.reduced) {
      df = df.select(projVars.map(col): _*).distinct()
      if (q.orderBy.nonEmpty)
        df = df.orderBy(q.orderBy.map(orderCol(_, Sol(df, projVars))): _*)
    } else {
      if (q.orderBy.nonEmpty)
        df = df.orderBy(q.orderBy.map(orderCol(_, sol0)): _*)
      df = df.select(projVars.map(col): _*)
    }
    q.offset.foreach(n => df = df.offset(n.toInt))
    q.limit.foreach(n => df = df.limit(n.toInt))
    Sol(df, projVars)
  }

  private def orderCol(k: OrderKey, sol: Sol): Column = {
    val c = translateExpr(k.expr, sol)
    if (k.asc) c.asc_nulls_first else c.desc_nulls_last
  }

  private def translateAgg(a: Aggregate, sol: Sol): Column = {
    val arg = a.expr.map(translateExpr(_, sol))
    a.fn match {
      case "count" =>
        arg match {
          case None => count(lit(1))
          case Some(x) => if (a.distinct) countDistinct(x) else count(x)
        }
      case "sum" => if (a.distinct) sum_distinct(arg.get) else sum(arg.get)
      case "avg" =>
        if (a.distinct) sum_distinct(arg.get) / countDistinct(arg.get) else avg(arg.get)
      case "min" => min(arg.get)
      case "max" => max(arg.get)
      case "group_concat" =>
        val sep = a.separator.getOrElse(" ")
        val base = if (a.distinct) array_distinct(collect_list(arg.get)) else collect_list(arg.get)
        array_join(transform(sort_array(base), _.cast(StringType)), sep)
      case "sample" => first(arg.get)
      case "nest" => sort_array(collect_list(arg.get))
      case other => throw new IllegalArgumentException(s"unknown aggregate $other")
    }
  }
}

object SparqlExecutor {

  /** Variables referenced by a pattern but not bound inside it — used to
    * decide whether an OPTIONAL side needs dependent evaluation. */
  def freeVars(p: Pattern): Set[String] = p match {
    case Bgp(_) => Set.empty
    case Join(l, r) => freeVars(l) ++ freeVars(r)
    case Filter(e, inner) => freeVars(inner) ++ (exprVars(e) -- boundVars(inner))
    case Extend(inner, _, e) => freeVars(inner) ++ (exprVars(e) -- boundVars(inner))
    case Union(l, r) => freeVars(l) ++ freeVars(r)
    case Minus(l, _) => freeVars(l)
    case LeftJoin(l, r, cond) =>
      freeVars(l) ++ freeVars(r) ++
        cond.map(exprVars(_) -- (boundVars(l) ++ boundVars(r))).getOrElse(Set.empty)
    case GraphPat(_, inner) => freeVars(inner)
    // SERVICE evaluates self-contained against the remote graph; shared
    // variables become join keys, not dependencies
    case ServicePat(_, _, _) => Set.empty
    case ValuesPattern(_, _) => Set.empty
    case SubSelect(_) => Set.empty
  }

  def exprVars(e: Expr): Set[String] = e match {
    case EVar(v) => Set(v)
    case ENot(a) => exprVars(a)
    case EAnd(a, b) => exprVars(a) ++ exprVars(b)
    case EOr(a, b) => exprVars(a) ++ exprVars(b)
    case ECmp(_, a, b) => exprVars(a) ++ exprVars(b)
    case EArith(_, a, b) => exprVars(a) ++ exprVars(b)
    case ENeg(a) => exprVars(a)
    case EIn(a, list, _) => exprVars(a) ++ list.flatMap(exprVars)
    case EFunc(_, args) => args.flatMap(exprVars).toSet
    case EIf(c, t, f) => exprVars(c) ++ exprVars(t) ++ exprVars(f)
    case ECoalesce(args) => args.flatMap(exprVars).toSet
    case EBound(v) => Set(v)
    case EAgg(a) => a.expr.map(exprVars).getOrElse(Set.empty)
    case EExists(_, _) => Set.empty // handled via marker joins on shared vars
    case ETerm(_) => Set.empty
  }

  def termToScala(t: Term, kind: OKind): Any = (kind, t) match {
    case (OKind.KLong, Lit(lex, _, _)) => lex.toLong
    case (OKind.KDbl, Lit(lex, _, _)) => lex.toDouble
    case (OKind.KBool, Lit(lex, _, _)) => lex.toBoolean
    case (OKind.KTs, Lit(lex, _, _)) => Xsd.parseTimestamp(lex)
    case (_, t0) => t0.canonical
  }
}
