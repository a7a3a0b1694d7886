package graft.graph

import graft.rdf._
import graft.sources.{MetaSidecar, ParquetCompaction}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kind of the object column of one predicate slice. */
sealed trait OKind
object OKind {
  case object KIri extends OKind
  case object KStr extends OKind
  case object KLong extends OKind
  case object KDbl extends OKind
  case object KBool extends OKind
  case object KTs extends OKind

  def ofDatatype(dt: String): OKind = dt match {
    case d if Xsd.numericLong(d) => KLong
    case d if Xsd.numericDouble(d) => KDbl
    case Xsd.boolean => KBool
    case Xsd.dateTime | Xsd.date => KTs
    case _ => KStr
  }

  /** The kind of one object, as the lexical frames spell it: a resource
    * (null `datatype`, no language tag) is KIri, a language-tagged literal
    * KStr, a typed literal its datatype's kind. */
  def of(datatype: String, langTagged: Boolean): OKind =
    if (langTagged) KStr else if (datatype == null) KIri else ofDatatype(datatype)

  def of(t: Term): OKind = t match {
    case Lit(_, dt, lang) => of(dt, lang.isDefined)
    case _ => of(null, langTagged = false)
  }

  /** The kind of a predicate slice: its objects' one kind, or KStr when
    * they have more than one (the reference stores plain Utf8). Every
    * graph constructor types its slices through [[of]] and this. */
  def ofSlice(kinds: Iterable[OKind]): OKind = kinds.toSet.toSeq match {
    case Seq(k) => k
    case _ => KStr
  }

  /** A term as the Scala value a `kind` column holds: typed literals
    * parse their lexical, everything else is its canonical string. */
  def scalaValue(t: Term, kind: OKind): Any = (kind, t) match {
    case (KLong, Lit(lex, _, _)) => lex.toLong
    case (KDbl, Lit(lex, _, _)) => lex.toDouble
    case (KBool, Lit(lex, _, _)) => lex.toBoolean
    case (KTs, Lit(lex, _, _)) => Xsd.parseTimestamp(lex)
    case (_, t0) => t0.canonical
  }
  def sparkType(k: OKind): DataType = k match {
    case KIri | KStr => StringType
    case KLong => LongType
    case KDbl => DoubleType
    case KBool => BooleanType
    case KTs => TimestampType
  }
  def xsdOf(k: OKind): Option[String] = k match {
    case KIri => None
    case KStr => Some(Xsd.string)
    case KLong => Some(Xsd.long)
    case KDbl => Some(Xsd.double)
    case KBool => Some(Xsd.boolean)
    case KTs => Some(Xsd.dateTime)
  }
}

/** Membership of a predicate slice in a wide "property table": `df` holds
  * one row per subject of `groupId`'s entity space with column `s` plus one
  * object column per member predicate — so same-subject patterns over
  * members read ONE table instead of self-joining n slices.
  *
  * Builder contract: group subject spaces are disjoint, and any subject
  * space shared between two fusable slices is declared on both.
  */
final case class FusedMember(groupId: String, df: DataFrame, objCol: String)

/** One vertical partition of the graph: all triples of a single predicate,
  * as a DataFrame with columns `s: String`, `o: <typed>` and optionally
  * `o_lang: String`.
  *
  * Vertical partitioning (one table per predicate) is the published scheme
  * for RDF-on-relational engines (S2RDF / Sempala lineage): a triple pattern
  * with a constant predicate becomes a scan of just that slice — at 100 TB,
  * predicate-partitioned parquet means partition pruning does this for free.
  * `fused` optionally links the slice into property tables for same-subject
  * scan fusion (SURVEY §4 custom-rule candidate #1, done as a logical
  * rewrite before Catalyst).
  *
  * A graph built by [[TriplesGraph.fromLazySlices]] holds a builder per
  * predicate instead: the slice is built on first access, memoised for
  * that graph, and never built by a query that does not touch it.
  */
final case class PredicateSlice(df: DataFrame, kind: OKind,
    hasLang: Boolean = false, fused: Seq[FusedMember] = Nil,
    subjectClasses: Set[String] = Set.empty,
    byClass: Map[String, DataFrame] = Map.empty,
    /** True when `df` carries a `g: String` column tagging each triple's
      * named graph (null = default graph). Slices without it hold
      * default-graph triples only — standard RDF dataset semantics. */
    hasGraph: Boolean = false)

/** Pluggable time-series backend for the hybrid engine — the reference's
  * `TimeSeriesQueryable` trait (hybrid/src/timeseries_database.rs:11-15,
  * with Dremio / OPC UA HA / in-memory impls), re-expressed Spark-first.
  *
  * A provider yields one DECLARATIVE long-format frame
  * `(id: String, ts: Timestamp, value: numeric)`; the external ids stored
  * in the graph under `otit_swt:hasExternalId` join against `id`. Where the
  * reference needs a per-backend SQL rewriter (943 LoC,
  * timeseries_sql_rewrite.rs) to ship each query's filters to the external
  * system, here the executor composes the query against `frame` and
  * Catalyst pushes time/id predicates and column pruning into whatever
  * source backs it — parquet (PushedFilters / PartitionFilters, asserted in
  * PlanSpec), JDBC (WHERE-clause pushdown via the JDBC source), or an
  * in-memory frame (filters run post-scan, same plan shape).
  */
trait TsProvider {
  /** The long-format view. Must expose columns id/ts/value. */
  def frame: DataFrame
}

/** In-memory / pre-built-frame provider (the reference's
  * simple_in_memory_timeseries.rs analogue): wraps any DataFrame already
  * in long format. */
final case class TsSource(df: DataFrame) extends TsProvider {
  require(Seq("id", "ts", "value").forall(df.columns.contains),
    s"TsSource needs id/ts/value columns, got ${df.columns.mkString(",")}")
  def frame: DataFrame = df
}

/** A [[TsSource]] built, and its columns checked, on first `frame` access:
  * a query that never touches the time-series vocabulary never reads the
  * source. */
final class LazyTsSource(build: () => DataFrame) extends TsProvider {
  lazy val frame: DataFrame = TsSource(build()).frame
}

/** An immutable map whose values are built on first access, once, and
  * memoised; a cell's lock makes concurrent first accesses build it once.
  * `get`, `contains`, `keySet` and `size` build nothing beyond the key they
  * ask for; iterating the map builds every value. Derived maps (`removed`,
  * `updated`) share the cells they keep. */
private[graph] final class LazyMap[K, +V] private (cells: Map[K, LazyMap.Cell[V]])
    extends scala.collection.immutable.AbstractMap[K, V] {
  def get(key: K): Option[V] = cells.get(key).map(_.value)
  def iterator: Iterator[(K, V)] =
    cells.iterator.map { case (k, c) => (k, c.value) }
  def removed(key: K): LazyMap[K, V] = new LazyMap(cells - key)
  def updated[V1 >: V](key: K, value: V1): LazyMap[K, V1] =
    new LazyMap(cells.updated(key, new LazyMap.Cell(() => value)))
  override def contains(key: K): Boolean = cells.contains(key)
  override def keySet: Set[K] = cells.keySet
  override def size: Int = cells.size
}

private[graph] object LazyMap {
  final class Cell[+V](build: () => V) { lazy val value: V = build() }
  def apply[K, V](builders: Map[K, () => V]): LazyMap[K, V] =
    new LazyMap(builders.map { case (k, b) => k -> new Cell(b) })
}

/** An RDF graph held as per-predicate DataFrame slices + an optional
  * time-series source for the virtual `hasDataPoint/hasTimestamp/hasValue`
  * vocabulary (SURVEY §3.1 stage 2 — the one piece of reference "magic" we
  * reimplement as a logical rewrite).
  *
  * Lazy-slice contract: `slices` may hold builders
  * ([[TriplesGraph.fromLazySlices]]). A slice is built on first access and
  * memoised per graph instance; [[slice]], `slices.keySet`/`contains`/`size`
  * build nothing beyond the predicate asked for, so a query builds only the
  * slices its patterns touch. Whole-graph operations ([[allTriples]],
  * [[nodes]], [[applyDelta]], [[save]], the N-Triples export) iterate the
  * map and so build every slice.
  */
final class TriplesGraph(
    val spark: SparkSession,
    val slices: Map[String, PredicateSlice],
    val ts: Option[TsProvider] = None,
    /** Set by [[TriplesGraph.load]]: the persisted base dataset plus its
      * subject-bucket count, enabling subject-addressed reads
      * ([[outboundTriples]]) to prune by bucket partition. */
    val store: Option[(DataFrame, Int)] = None,
    /** Predicates whose slices diverge from the persisted base — grown by
      * [[applyDelta]]/CLEAR across a chain of updates; [[saveDelta]]
      * rewrites exactly these `p=…` partition directories. */
    val touched: Set[String] = Set.empty) {

  def slice(predicate: String): Option[PredicateSlice] = slices.get(predicate)

  /** Long-form view for variable-predicate patterns: (s, p, o) with o as the
    * canonical string. */
  lazy val allTriples: DataFrame = triplesExcept(Nil)

  /** Long-form view skipping the `excluded` predicate slices — negated
    * property sets prune their complement at plan-construction time instead
    * of trusting the optimizer to fold `lit(p) NOT IN (…)` per union branch
    * (at 100 TB with predicate-partitioned storage this is partition
    * pruning, stated explicitly).
    *
    * `subjectClass`, when set, additionally drops every slice that DECLARES
    * subject classes not containing it (slices with an empty declaration are
    * always kept): a BGP that pins a variable to `rdf:type C` lets its
    * variable-predicate / NPS scans skip the vertical partitions whose
    * subjects can never be of class C — the catalog-driven pruning that
    * keeps `?n !(…) ?o` from scanning fact-table slices for a
    * dimension-typed `?n`. Sound because those rows are dropped by the
    * rdf:type join anyway (builder contract: a non-empty `subjectClasses`
    * lists EVERY class its subjects may have). A mixed-class slice that
    * also declares `byClass` sub-frames contributes only its matching
    * class partition — (predicate, subject_class)-partitioned storage. */
  def triplesExcept(excluded: Seq[String],
      subjectClass: Option[String] = None,
      withGraph: Boolean = false): DataFrame = {
    val parts = slices.collect {
      case (p, sl) if !excluded.contains(p) &&
          subjectClass.forall(c =>
            sl.subjectClasses.isEmpty || sl.subjectClasses.contains(c)) =>
        val src = subjectClass.flatMap(sl.byClass.get).getOrElse(sl.df)
        val base = Seq(col("s"), lit(p).as("p"), col("o").cast(StringType).as("o"))
        val cols =
          if (!withGraph) base
          else base :+ (if (sl.hasGraph) col("g")
            else lit(null).cast(StringType).as("g"))
        src.select(cols: _*)
    }
    parts.reduceOption(_.unionByName(_)).getOrElse {
      val fields = Seq(StructField("s", StringType), StructField("p", StringType),
        StructField("o", StringType)) ++
        (if (withGraph) Seq(StructField("g", StringType)) else Nil)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(fields))
    }
  }

  /** Distributed N-Triples / N-Quads export of the whole graph: one
    * formatted line per triple, typed lexicals per slice kind (timestamps
    * in the UTC-offset XSD spelling), lang tags preserved, named-graph
    * tags as N-Quads 4th terms when `withGraph`. Lazy and map-only per
    * slice — the path a 100 TB graph takes OUT of the engine, mirrored
    * bit-for-bit by the reader ([[graft.sources.NTriples]]); the shared
    * formatting kernel is [[graft.rdf.NtFormat]]. */
  def ntriplesLines(excluded: Seq[String] = Nil,
      withGraph: Boolean = false): DataFrame = {
    import graft.rdf.NtFormat
    val parts = slices.collect {
      case (p, sl) if !excluded.contains(p) =>
        val dt = OKind.xsdOf(sl.kind)
        val oLex = NtFormat.lexical(col("o"), sl.df.schema("o").dataType, "UTC")
        val oDt = (sl.kind, sl.hasLang) match {
          case (OKind.KIri, _) => lit(null).cast(StringType)
          case (_, true) => when(col("o_lang").isNotNull,
            lit(null).cast(StringType)).otherwise(lit(dt.get))
          case _ => lit(dt.get)
        }
        val oLang = if (sl.hasLang) col("o_lang") else lit(null).cast(StringType)
        val g =
          if (!withGraph) None
          else Some(if (sl.hasGraph) col("g") else lit(null).cast(StringType))
        // default-graph-only export of a quad slice must not leak tagged
        // triples into the default graph
        val src = if (!withGraph && sl.hasGraph) sl.df.filter(col("g").isNull)
          else sl.df
        src.select(NtFormat.line(col("s"), lit(p), oLex, oDt, oLang, g)
          .as("value"))
    }
    parts.reduceOption(_.unionByName(_)).getOrElse {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("value", StringType))))
    }
  }

  /** Distributed N-Triples/N-Quads sink: every executor writes its
    * partitions in parallel. Round-trips through `NTriples.read` +
    * `NTriples.toGraph`. */
  def writeNTriplesDistributed(path: String, excluded: Seq[String] = Nil,
      withGraph: Boolean = false): Unit =
    ntriplesLines(excluded, withGraph).write.mode("overwrite").text(path)

  /** Distinct datatype IRIs the graph declares under `otit_swt:hasDatatype`
    * (empty when none are declared). One tiny distinct-aggregation over a
    * series-metadata slice, cached for the graph's lifetime — the executor
    * uses it to decide whether any declaration could conflict with the TS
    * source's storage kind, so the common all-consistent case plans with
    * ZERO guard overhead (full filter pushdown below the series join).
    * The executor reads it only when the slice's optimized plan does not
    * already name the datatype as one constant; a constant declaration is
    * decided with no job at all. */
  lazy val declaredTsDatatypes: Seq[String] =
    slices.get(Otit.hasDatatype).map { sl =>
      sl.df.select(col("o").cast(StringType)).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    }.getOrElse(Nil)

  /** Every outbound triple of the given node set — the DESCRIBE scan.
    *
    * On a persisted graph this reads by SUBJECT BUCKET: the node set's
    * bucket values (≤ nBuckets of them, a metadata-sized collect) become a
    * literal partition filter on `sb`, so a point DESCRIBE touches
    * ~|buckets|/nBuckets of each predicate slice instead of the whole
    * store — with (p, kind, cls) partitioning alone there is no subject
    * pruning and every DESCRIBE is a full-graph scan. In-memory graphs
    * keep the semi-join over [[allTriples]].
    */
  /** `classes`, when known (every described node's rdf:type is provably in
    * the set — derivable from the DESCRIBE pattern under the builder
    * contract that declared subjectClasses are complete), prunes slices /
    * cls partitions whose subjects can never be described: a DESCRIBE of
    * dimension entities skips the fact-table slices entirely. */
  def outboundTriples(nodes: DataFrame,
      classes: Option[Set[String]] = None): DataFrame = store match {
    case Some((base, nb)) =>
      val buckets = nodes
        .select(pmod(xxhash64(col("node")), lit(nb)).cast(IntegerType).as("sb"))
        .distinct().collect().map(_.getInt(0)) // ≤ nBuckets values
      val o = coalesce(col("o_str"), col("o_long").cast(StringType),
        col("o_dbl").cast(StringType), col("o_bool").cast(StringType),
        col("o_ts").cast(StringType))
      val clsPruned = classes match {
        case Some(cs) => // cls partition pruning on top of bucket pruning
          base.filter(col("cls").isin((cs + "__all").toSeq: _*))
        case None => base
      }
      clsPruned.filter(col("sb").isin(buckets.toSeq: _*))
        .join(nodes, col("s") === col("node"), "left_semi")
        .select(col("s"), col("p"), o.as("o"))
    case None =>
      val source = classes match {
        case Some(cs) =>
          val parts = slices.collect {
            case (p, sl) if sl.subjectClasses.isEmpty ||
                sl.subjectClasses.intersect(cs).nonEmpty =>
              // mixed-class slices contribute only their matching byClass
              // branches — the (predicate, subject_class) partition a lake
              // would store — so e.g. the sensor branch of rdf:type never
              // scans for a nation DESCRIBE
              val src =
                if (sl.byClass.nonEmpty)
                  sl.byClass.view.filterKeys(cs.contains).values
                    .reduceOption(_.unionByName(_))
                    .getOrElse(sl.df.limit(0))
                else sl.df
              src.select(col("s"), lit(p).as("p"),
                col("o").cast(StringType).as("o"))
          }
          parts.reduceOption(_.unionByName(_)).getOrElse(allTriples.limit(0))
        case None => allTriples
      }
      source.join(nodes, col("s") === col("node"), "left_semi")
  }

  /** All nodes of the graph (for zero-length path semantics). */
  lazy val nodes: DataFrame = {
    val subj = allTriples.select(col("s").as("node"))
    val objIris = slices.collect {
      case (_, sl) if sl.kind == OKind.KIri => sl.df.select(col("o").as("node"))
    }
    objIris.foldLeft(subj)(_.unionByName(_)).distinct()
  }

  /** Nodes of the DEFAULT graph only — the zero-length path identity base
    * on a quad store: a node occurring solely in named graphs must not
    * self-match in default-graph `p?`/`p*` patterns (dataset scoping).
    * Identical to [[nodes]] when no slice carries a graph tag. */
  lazy val defaultGraphNodes: DataFrame =
    if (!slices.values.exists(_.hasGraph)) nodes
    else {
      val t = triplesExcept(Nil, None, withGraph = true)
        .filter(col("g").isNull)
      val subj = t.select(col("s").as("node"))
      val objIris = slices.collect {
        case (_, sl) if sl.kind == OKind.KIri =>
          (if (sl.hasGraph) sl.df.filter(col("g").isNull) else sl.df)
            .select(col("o").cast(StringType).as("node"))
      }
      objIris.foldLeft(subj)(_.unionByName(_)).distinct()
    }

  /** (node, g) pairs per NAMED graph — zero-length path semantics inside
    * `GRAPH ?g`: a node "is in" the graphs whose triples mention it. */
  lazy val namedGraphNodes: DataFrame = {
    val t = triplesExcept(Nil, None, withGraph = true)
      .filter(col("g").isNotNull)
    val subj = t.select(col("s").as("node"), col("g"))
    val objIris = slices.collect {
      case (_, sl) if sl.kind == OKind.KIri && sl.hasGraph =>
        sl.df.filter(col("g").isNotNull)
          .select(col("o").cast(StringType).as("node"), col("g"))
    }
    objIris.foldLeft(subj)(_.unionByName(_)).distinct()
  }

  /** Apply a triple delta FUNCTIONALLY: returns a new graph with `deletes`
    * removed and `inserts` added (RDF set semantics on both sides); this
    * graph is untouched. Both frames are canonical long-form quads —
    * columns `s, p, o, g, ol` (all strings; g null = default graph, ol =
    * language tag of a lang literal, else null) — the shape
    * [[graft.exec.SparqlExecutor]]'s template instantiation emits.
    *
    * Scale shape: updates are SURGICAL per vertical partition. The touched
    * predicate set is a vocabulary-sized `collect` (the same bound as the
    * probed-cid set in the IVF reader); an untouched predicate keeps its
    * slice object — same DataFrame, zero recompute, and on a persisted
    * store the same `p=…` partition directories. A touched slice gets one
    * left-anti join (deletes, matched on TYPED object values so `"5"` vs
    * `"5.0"` lexical drift can't miss) and/or one anti-join + union
    * (inserts, cast to the slice's object kind, deduplicated against the
    * existing rows). Both delta frames are localCheckpointed once —
    * delete/insert sets are output-sized, and each is re-read by every
    * touched slice. Derived caches (byClass branches, property-table
    * fusion) drop on touched slices; declared subjectClasses survive
    * deletes (removing rows cannot break the completeness contract) but
    * drop on inserted-into slices. The `store` pointer is cleared — the
    * updated graph is an in-memory overlay; re-[[save]] to re-bucket.
    *
    * v1 scope, documented: inserts of a brand-new predicate build a
    * string-kind slice (no type inference from lexicals); an insert whose
    * lexical does not cast to the target slice's kind is REJECTED (the
    * per-predicate metadata aggregate doubles as the validation pass). */
  def applyDelta(deletes: DataFrame, inserts: DataFrame): TriplesGraph = {
    import TriplesGraph.quadCols
    val del = quadCols(deletes).localCheckpoint()
    val ins = quadCols(inserts).localCheckpoint()
    // one vocabulary-sized metadata pass over each side: touched predicates,
    // plus per-predicate "carries named graphs / lang tags" for promotion
    val delPs: Set[String] =
      del.select("p").na.drop().distinct().collect().map(_.getString(0)).toSet
    case class InsMeta(hasG: Boolean, hasLang: Boolean, n: Long)
    val insMeta: Map[String, InsMeta] =
      ins.na.drop(Seq("p")).groupBy("p")
        .agg(max(col("g").isNotNull).as("hg"), max(col("ol").isNotNull).as("hl"),
          count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) ->
          InsMeta(r.getBoolean(1), r.getBoolean(2), r.getLong(3))).toMap

    def withG(df: DataFrame, has: Boolean): (DataFrame, Boolean) =
      if (has) (df, true)
      else (df.withColumn("g", lit(null).cast(StringType)), true)

    val updated = slices.map { case (p, sl) =>
      val needDel = delPs.contains(p)
      val needIns = insMeta.contains(p)
      if (!needDel && !needIns) p -> sl
      else {
        val oType = OKind.sparkType(sl.kind)
        var df = sl.df
        var hasG = sl.hasGraph
        var hasLang = sl.hasLang
        if (needIns && insMeta(p).hasG && !hasG) {
          val r = withG(df, has = false); df = r._1; hasG = true
        }
        if (needIns && insMeta(p).hasLang && !hasLang) {
          df = df.withColumn("o_lang", lit(null).cast(StringType)); hasLang = true
        }
        if (needDel) {
          // try_cast: an uncastable delete lexical simply matches nothing
          // (and ANSI mode would otherwise fail the whole job on it)
          val d0 = del.filter(col("p") === lit(p))
            .select(col("s").as("__ds"), col("o").try_cast(oType).as("__do"),
              col("g").as("__dg"), col("ol").as("__dl"))
          // a named-graph delete can't touch an untagged slice, and a
          // lang-tagged delete can't touch a lang-free slice ("x"@en and
          // "x" are distinct RDF terms, so the tagged delete matches none)
          val d = {
            var dd = d0
            if (!hasG) dd = dd.filter(col("__dg").isNull)
            if (!hasLang) dd = dd.filter(col("__dl").isNull)
            dd
          }
          val cond = (col("s") === col("__ds")) && (col("o") === col("__do")) &&
            (if (hasG) col("g") <=> col("__dg") else lit(true)) &&
            (if (hasLang) col("o_lang") <=> col("__dl") else lit(true))
          df = df.join(d, cond, "left_anti")
        }
        if (needIns) {
          val rows0 = ins.filter(col("p") === lit(p))
          val bad = rows0.filter(col("o").isNotNull &&
            col("o").try_cast(oType).isNull).limit(1).collect()
          if (bad.nonEmpty) throw new IllegalArgumentException(
            s"INSERT into <$p> (object kind ${sl.kind}): lexical " +
              s"'${bad.head.getAs[String]("o")}' does not cast")
          val cols = Seq(col("s"), col("o").try_cast(oType).as("o")) ++
            (if (hasLang) Seq(col("ol").as("o_lang")) else Nil) ++
            (if (hasG) Seq(col("g")) else Nil)
          val rows = rows0.select(cols: _*).distinct()
          df = rows.join(df,
            rows.columns.map(c => df(c) <=> rows(c)).reduce(_ && _),
            "left_anti").select(df.columns.map(c => rows(c)): _*)
            .unionByName(df)
        }
        // lazy localCheckpoint = the commit boundary: a CHAIN of updates
        // would otherwise stack one join tree per op onto every touched
        // slice until the optimizer chokes (measured: 40 chained ground
        // ops hung analysis). Lazy, so a one-shot update pays nothing
        // extra until the slice is first read; on a lake deployment the
        // equivalent boundary is rewriting the touched p=… partitions.
        p -> PredicateSlice(df.localCheckpoint(false), sl.kind,
          hasLang = hasLang,
          fused = Nil, byClass = Map.empty,
          subjectClasses = if (needIns) Set.empty else sl.subjectClasses,
          hasGraph = hasG)
      }
    }
    val fresh = (insMeta.keySet -- slices.keySet).map { p =>
      val m = insMeta(p)
      val cols = Seq(col("s"), col("o")) ++
        (if (m.hasLang) Seq(col("ol").as("o_lang")) else Nil) ++
        (if (m.hasG) Seq(col("g")) else Nil)
      p -> PredicateSlice(
        ins.filter(col("p") === lit(p)).select(cols: _*).distinct()
          .localCheckpoint(false),
        OKind.KStr, hasLang = m.hasLang, hasGraph = m.hasG)
    }.toMap
    new TriplesGraph(spark, updated ++ fresh, ts, store = None,
      touched = touched ++ delPs ++ insMeta.keySet)
  }

  /** CLEAR semantics (SPARQL 1.1 Update §3.2.2), functional like
    * [[applyDelta]]: default = drop untagged triples, named = drop all
    * tagged ones, graph(iri) = drop that graph, all = empty dataset.
    * Untouched slices keep their objects; DROP is the same operation in a
    * store without empty-graph bookkeeping. */
  def clearDefault(): TriplesGraph = {
    val kept = slices.flatMap { case (p, sl) =>
      if (!sl.hasGraph) None // whole slice lives in the default graph
      else Some(p -> sl.copy(df = sl.df.filter(col("g").isNotNull),
        fused = Nil, byClass = Map.empty))
    }
    new TriplesGraph(spark, kept, ts, store = None,
      touched = touched ++ slices.keySet)
  }
  def clearNamed(): TriplesGraph = {
    val kept = slices.map { case (p, sl) =>
      if (!sl.hasGraph) p -> sl
      else p -> sl.copy(df = sl.df.filter(col("g").isNull),
        fused = Nil, byClass = Map.empty)
    }
    new TriplesGraph(spark, kept, ts, store = None,
      touched = touched ++ slices.collect { case (p, sl) if sl.hasGraph => p })
  }
  def clearGraph(iri: String): TriplesGraph = {
    val kept = slices.map { case (p, sl) =>
      if (!sl.hasGraph) p -> sl
      else p -> sl.copy(df = sl.df.filter(!(col("g") <=> lit(iri))),
        fused = Nil, byClass = Map.empty)
    }
    new TriplesGraph(spark, kept, ts, store = None,
      touched = touched ++ slices.collect { case (p, sl) if sl.hasGraph => p })
  }
  def clearAll(): TriplesGraph =
    new TriplesGraph(spark, Map.empty, ts, store = None,
      touched = touched ++ slices.keySet)

  /** Graph-to-graph transfer — the engine behind SPARQL 1.1 Update's
    * ADD (keepSrc, no replace), COPY (keepSrc + replaceDst) and MOVE
    * (replaceDst, src dropped). `None` selects the default graph.
    * Functional like the other mutators; src == dst is a spec no-op.
    *
    * Scale shape: per slice, the result is filter/union surgery over the
    * SAME lineage (no self-joins): rows outside the destination pass
    * through untouched, source rows are re-tagged map-side, and only ADD
    * pays a dedup shuffle — bounded by the src+dst rows of the slice, not
    * the slice (RDF graphs are sets; COPY/MOVE replace the destination so
    * their re-tagged rows are already distinct). Slices that cannot hold
    * source or destination rows keep their DataFrame object. */
  def transferGraph(src: Option[String], dst: Option[String],
      keepSrc: Boolean, replaceDst: Boolean): TriplesGraph = {
    if (src == dst) return this
    val changed = scala.collection.mutable.Set.empty[String]
    val updated = slices.flatMap { case (p, sl) =>
      val hasG = sl.hasGraph
      val srcPossible = src.isEmpty || hasG
      if (!srcPossible) {
        // no source rows here; only destination clearing can touch it
        if (!replaceDst) Some(p -> sl)
        else dst match {
          case None =>
            changed += p
            if (hasG) Some(p -> sl.copy(
              df = sl.df.filter(col("g").isNotNull).localCheckpoint(false),
              fused = Nil, byClass = Map.empty))
            else None // whole slice was default-graph content, now replaced
          case Some(i) =>
            if (!hasG) Some(p -> sl)
            else {
              changed += p
              Some(p -> sl.copy(
                df = sl.df.filter(!(col("g") <=> lit(i)))
                  .localCheckpoint(false),
                fused = Nil, byClass = Map.empty))
            }
        }
      } else {
        changed += p
        var df = sl.df
        var hg = hasG
        if (dst.isDefined && !hg) {
          df = df.withColumn("g", lit(null).cast(StringType)); hg = true
        }
        // src == dst was handled above, so hg holds whenever either side
        // is a named graph; hg is only false when both are default, which
        // cannot reach here
        def pred(sel: Option[String]) = sel match {
          case None => col("g").isNull
          case Some(i) => col("g") <=> lit(i)
        }
        val dstVal = dst.map(i => lit(i).cast(StringType))
          .getOrElse(lit(null).cast(StringType))
        val retag = df.filter(pred(src)).withColumn("g", dstVal)
        val result =
          if (!replaceDst) // ADD: set-union into dst (dedup dst ∪ retag)
            df.filter(!pred(dst))
              .unionByName(df.filter(pred(dst)).unionByName(retag).distinct())
          else if (keepSrc) // COPY: dst := src
            df.filter(!pred(dst)).unionByName(retag)
          else // MOVE: dst := src, then drop src
            df.filter(!pred(dst) && !pred(src)).unionByName(retag)
        Some(p -> PredicateSlice(result.localCheckpoint(false), sl.kind,
          hasLang = sl.hasLang, fused = Nil, byClass = Map.empty,
          subjectClasses = sl.subjectClasses, hasGraph = hg))
      }
    }
    new TriplesGraph(spark, updated, ts, store = None,
      touched = touched ++ changed)
  }

  /** The persisted wide-row form of one slice (all branches), shared by
    * [[save]] and [[saveDelta]]: the objects land in the kind's typed
    * column of [[TriplesGraph.storedKinds]], every other one is null. */
  private def storeRows(p: String, sl: PredicateSlice, nBuckets: Int): Seq[DataFrame] = {
    val stored = TriplesGraph.storedKind(sl.kind, sl.hasLang)
    val branches: Seq[(String, DataFrame)] =
      if (sl.byClass.nonEmpty) sl.byClass.toSeq
      else Seq((sl.subjectClasses.toSeq match {
        case Seq(one) => one
        case _ => "__all"
      }) -> sl.df)
    branches.map { case (cls, df) =>
      val typed = TriplesGraph.storeColumns.map { case (c, t) =>
        (if (c == stored.column) col("o") else lit(null)).cast(t).as(c)
      }
      val lang = if (sl.hasLang) col("o_lang") else lit(null)
      // named-graph tag rides along as a data column (null = default
      // graph) so quad graphs round-trip; partitioning stays on
      // (p, kind, cls, sb) — named graphs can be many and skewed, a poor
      // partition key
      val gtag = if (sl.hasGraph) col("g") else lit(null)
      df.select(Seq(col("s").cast(StringType).as("s")) ++ typed ++ Seq(
        lang.cast(StringType).as("o_lang"), gtag.cast(StringType).as("g"),
        lit(p).as("p"), lit(stored.tag).as("kind"), lit(cls).as("cls"),
        pmod(xxhash64(col("s").cast(StringType)), lit(nBuckets))
          .cast(IntegerType).as("sb")): _*)
    }
  }

  /** Persist the graph as ONE parquet dataset partitioned by
    * (predicate, object-kind, subject-class, subject-bucket) — the 100 TB
    * storage layout: a constant-predicate scan is partition pruning, a
    * typed NPS scan prunes to the complement × matching-class partitions,
    * subject-addressed reads (DESCRIBE, fully-ground patterns) prune to
    * their hash buckets, and the typed object columns keep every slice's
    * native type. Class branches come from `byClass` (single-class slices
    * write their one class; slices with no declaration write `__all`).
    * `nBuckets` is part of the layout contract: it is recorded in the
    * store's sidecar, the one place [[TriplesGraph.load]] reads it from. */
  def save(path: String, nBuckets: Int = TriplesGraph.defaultSubjectBuckets): Unit = {
    val parts = slices.toSeq.flatMap { case (p, sl) => storeRows(p, sl, nBuckets) }
    parts.reduce(_.unionByName(_))
      // align writers with the partition tree (the tiny-files trap: an
      // unaligned union writes tasks x |p.kind.cls.sb| small files)
      .repartition(col("p"), col("kind"), col("cls"), col("sb"))
      .write.mode("overwrite").partitionBy("p", "kind", "cls", "sb").parquet(path)
    // persist the layout contract next to the data: load() reads nBuckets
    // back from here instead of trusting its caller, so a store saved with
    // 8 buckets can never be probed with 16 (sb filters would silently
    // drop most of a node's triples). Underscore prefix = invisible to
    // Spark's parquet listing; written via the Hadoop FS API so the
    // sidecar lands on whatever filesystem holds the store (HDFS/S3A/local).
    MetaSidecar.write(spark, path, TriplesGraph.metaFileName,
      Seq("nBuckets" -> nBuckets.toString))
  }

  /** Rewrite ONLY the [[touched]] predicates' `p=…` partition directories
    * of an existing store at `path` — the persistence half of the surgical
    * update story: after a chain of [[applyDelta]]/CLEAR ops, untouched
    * predicates' files are left byte-for-byte alone (the spec asserts
    * their modification times), touched ones are swapped wholesale. A full
    * directory swap (not just dynamic partition overwrite) because an
    * update can MOVE rows between cls/kind/sb sub-partitions — stale
    * sibling directories would double-count on reload. The bucket count
    * comes from the store's own sidecar.
    *
    * CRASH CONSISTENCY (write-ahead staging + commit marker): new contents
    * land first in `_graft_staging_delta/` (underscore prefix → invisible
    * to Spark's listing, so concurrent readers of `path` never see them),
    * one `p=` directory per touched predicate — an EMPTY one for a
    * predicate whose rows are all gone; then an empty commit-marker file
    * is written; only then are the old directories unlinked and the
    * staged ones renamed in (empty ones are drops); finally marker and
    * staging are removed. [[TriplesGraph.recoverStore]]
    * (run by [[TriplesGraph.load]] and by the mutators themselves) makes
    * any crash land on a whole state: before the marker exists the store
    * is untouched (staging is discarded); once it exists the swap is
    * re-executed idempotently to completion. A reader therefore sees the
    * OLD store or the NEW one, never a hybrid — the manifest-commit
    * discipline of lake table formats, scoped to one store. Assumes
    * same-filesystem atomic directory rename (HDFS/local; object stores
    * need their table format's commit protocol). */
  def saveDelta(path: String): Unit = {
    if (touched.isEmpty) return
    import org.apache.hadoop.fs.Path
    TriplesGraph.recoverStore(spark, path)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nBuckets = TriplesGraph.storeBuckets(spark, path)
    // 1. stage: write every touched slice's new contents BEFORE touching
    // the live directories. The write also materializes the slices' lazy
    // localCheckpoints, so their plans stop depending on the files the
    // swap below unlinks — read-old-write-new in one step.
    val staging = new Path(root, TriplesGraph.stagingDirName)
    if (fs.exists(staging)) fs.delete(staging, true)
    val parts = slices.toSeq.filter(kv => touched.contains(kv._1))
      .flatMap { case (p, sl) => storeRows(p, sl, nBuckets) }
    parts.reduceOption(_.unionByName(_)).foreach(
      _.repartition(col("p"), col("kind"), col("cls"), col("sb"))
        .write.partitionBy("p", "kind", "cls", "sb").parquet(staging.toString))
    // a fully-deleted predicate stages an empty directory, named as
    // partitionBy names the live one: the swap below then drops it
    touched.foreach(p => fs.mkdirs(new Path(staging,
      ExternalCatalogUtils.getPartitionPathString("p", p))))
    ParquetCompaction.crashHook("after-staging")
    // 2. commit: the marker's existence is the commit point
    fs.create(new Path(root, TriplesGraph.deltaCommitFileName), true).close()
    ParquetCompaction.crashHook("after-marker")
    // 3+4. swap to completion, then clean up marker + staging
    TriplesGraph.completeDeltaSwap(spark, path)
  }
}

object TriplesGraph {

  /** Normalize a delta frame to the canonical quad shape (s, p, o, g, ol) —
    * missing graph/lang columns become nulls, o is stringified. */
  private[graft] def quadCols(df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    var out = df
    if (!have.contains("g")) out = out.withColumn("g", lit(null).cast(StringType))
    if (!have.contains("ol")) out = out.withColumn("ol", lit(null).cast(StringType))
    out.select(col("s"), col("p"), col("o").cast(StringType), col("g"), col("ol"))
  }

  /** The store sidecar's recorded bucket count, if the sidecar exists. */
  private[graft] def readMeta(spark: SparkSession, path: String): Option[Int] =
    MetaSidecar.readText(spark, path, metaFileName)
      .flatMap(MetaSidecar.longField(_, "nBuckets"))
      .map(_.toInt)

  /** [[readMeta]] for a store a method needs: one without a sidecar was
    * not written by [[TriplesGraph#save]], so fail, naming it. */
  private def storeBuckets(spark: SparkSession, path: String): Int =
    readMeta(spark, path).getOrElse(throw new IllegalArgumentException(
      s"no store sidecar at $path — not a store written by save()"))

  /** Compact a persisted store in place: parallel writes and saveDelta
    * cycles leave up to one file per task per partition directory;
    * compaction rewrites the whole dataset with rows repartitioned BY the
    * partition key, so every (p, kind, cls, sb) directory lands in exactly
    * one task → one file. Layout, sidecar, and contents are unchanged —
    * the classic small-files maintenance job of any partitioned lake
    * table. The swap is [[ParquetCompaction.rewrite]]'s crash-safe
    * rewrite-then-swap, with the sidecar written into the temp beside the
    * data, so a kill at any point leaves the old store or the new one. */
  def compact(spark: SparkSession, path: String): Unit = {
    recoverStore(spark, path)
    val nBuckets = storeBuckets(spark, path)
    ParquetCompaction.rewrite(spark, path) { tmp =>
      spark.read.parquet(path)
        .repartition(col("p"), col("kind"), col("cls"), col("sb"))
        .write.partitionBy("p", "kind", "cls", "sb").parquet(tmp)
      MetaSidecar.write(spark, tmp, metaFileName,
        Seq("nBuckets" -> nBuckets.toString))
    }
  }

  /** Bring a store back to a whole state after a crashed [[compact]] or
    * [[TriplesGraph#saveDelta]]. Idempotent; called by [[load]] and by the
    * mutators before they start. [[ParquetCompaction.recover]] finishes or
    * discards a crashed compact; then the delta marker decides:
    *  - a delta commit marker exists → the delta was fully staged and
    *    committed; re-execute the swap to completion (directories already
    *    swapped are detected by their staging source being gone).
    *  - staging exists with NO marker → the crash hit before commit; the
    *    store is untouched, discard the staging leftovers.
    */
  private[graft] def recoverStore(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    ParquetCompaction.recover(spark, path)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(root, stagingDirName)
    if (fs.exists(new Path(root, deltaCommitFileName)))
      completeDeltaSwap(spark, path)
    else if (fs.exists(staging))
      // staged but never committed: the store is whole as-is
      fs.delete(staging, true)
  }

  /** Execute (or re-execute) a committed delta swap: for each staged
    * `p=` directory, unlink the live directory of the same name, then
    * rename the staged one in — or, when it is empty (a fully-deleted
    * predicate), delete it. Every step is idempotent — a staged dir
    * already renamed in or deleted is simply absent from staging — so the
    * method can be re-run after a crash at any point. Ends by removing
    * the commit marker, then the staging dir. */
  private[graft] def completeDeltaSwap(spark: SparkSession,
      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(root, stagingDirName)
    val staged =
      if (!fs.exists(staging)) Seq.empty
      else fs.listStatus(staging).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("p="))
        .map(_.getPath).sortBy(_.getName)
    var n = 0
    staged.foreach { src =>
      val live = new Path(root, src.getName)
      if (fs.exists(live)) fs.delete(live, true)
      if (fs.listStatus(src).isEmpty) fs.delete(src, true)
      else {
        if (!fs.rename(src, live))
          throw new IllegalStateException(s"delta rename of $src failed")
        n += 1
        if (n == 1) ParquetCompaction.crashHook("mid-swap")
      }
    }
    fs.delete(new Path(root, deltaCommitFileName), false)
    if (fs.exists(staging)) fs.delete(staging, true)
    // the session caches file listings per path; readers opened before this
    // delta would otherwise chase swapped-out part files
    spark.catalog.refreshByPath(path)
  }

  /** Commit marker for [[TriplesGraph#saveDelta]]'s staged swap, an empty
    * file. Its existence means the delta is committed; recovery
    * re-executes the swap. */
  private[graft] val deltaCommitFileName = "_graft_delta_commit.json"

  /** Staging directory (inside the store root, underscore-prefixed so
    * Spark's file listing ignores it) holding a delta's new partition
    * directories until the commit marker is written. */
  private[graft] val stagingDirName = "_graft_staging_delta"

  /** Subject-bucket count for the persisted layout. 16 keeps the test-scale
    * directory fan-out sane; a 100 TB deployment would raise it (buckets ×
    * predicates × classes directories, each holding 1/nBuckets of the
    * subjects) — the value is a save/load contract, not a constant baked
    * into the data. */
  val defaultSubjectBuckets = 16

  /** Sidecar recording the store's layout contract (currently nBuckets). */
  val metaFileName = "_graft_meta.json"

  /** Build from an in-memory triple list (fixtures, mapper output). */
  def fromTerms(spark: SparkSession, triples: Seq[(Term, String, Term)],
      ts: Option[TsProvider] = None): TriplesGraph =
    fromObjects(spark, triples.map { case (s, p, o) => (s, p, o, None) },
      withGraph = false, ts)

  /** Build from an in-memory QUAD list — (s, p, o, named graph), graph None
    * for the default graph. Slices carry the `g` column (hasGraph), giving
    * standard RDF dataset semantics: default-graph matching sees only
    * untagged triples, `GRAPH ?g/<iri>` sees the named ones. */
  def fromQuads(spark: SparkSession,
      quads: Seq[(Term, String, Term, Option[String])],
      ts: Option[TsProvider] = None): TriplesGraph =
    fromObjects(spark, quads, withGraph = true, ts)

  /** [[fromTerms]] and [[fromQuads]]: slices typed on the driver by the
    * same rule as [[fromLexical]] (and as query constants), so building
    * one fires no job. */
  private def fromObjects(spark: SparkSession,
      quads: Seq[(Term, String, Term, Option[String])], withGraph: Boolean,
      ts: Option[TsProvider]): TriplesGraph = {
    val slices = quads.groupBy(_._2).map { case (p, qs) =>
      val kind = OKind.ofSlice(qs.map(q => OKind.of(q._3)))
      val langs = qs.map {
        case (_, _, Lit(_, _, l), _) => l.orNull
        case _ => null
      }
      val hasLang = langs.exists(_ != null)
      val rows = qs.zip(langs).map { case ((s, _, o, g), lang) =>
        Row.fromSeq(Seq(s.canonical, OKind.scalaValue(o, kind)) ++
          (if (hasLang) Seq(lang) else Nil) ++
          (if (withGraph) Seq(g.orNull) else Nil))
      }
      val schema = StructType(
        Seq(StructField("s", StringType), StructField("o", OKind.sparkType(kind))) ++
          (if (hasLang) Seq(StructField("o_lang", StringType)) else Nil) ++
          (if (withGraph) Seq(StructField("g", StringType)) else Nil))
      p -> PredicateSlice(
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
        kind, hasLang, hasGraph = withGraph)
    }
    new TriplesGraph(spark, slices, ts)
  }

  /** Lift a lexical triples frame into a typed graph — the one
    * distributed constructor behind `NTriples.toGraph` and
    * `Mapping.toGraph`. `frame` has columns `s, p, o_lex, o_dt, o_lang`
    * and optionally `g`, spelled as `NTriples.read` parses them (a
    * resource has null `o_dt` and `o_lang`; `g` null = default graph).
    *
    * One vocabulary-sized aggregate collects each predicate's distinct
    * (datatype, lang-tagged) pairs and whether it has named-graph triples;
    * [[OKind.of]]/[[OKind.ofSlice]] type the slice from the pairs, which
    * also say whether it has lang tags. Each slice is then a filter plus
    * `try_cast` over `frame` — the same cast contract as SPARQL UPDATE's
    * insert path — so the slice frames stay lazy and `frame` should be
    * cheap to re-read (a checkpoint, or a plan as cheap as one). */
  def fromLexical(spark: SparkSession, frame: DataFrame,
      ts: Option[TsProvider] = None): TriplesGraph = {
    val withGraph = frame.columns.contains("g")
    val langTagged = col("o_lang").isNotNull
    val meta = frame.groupBy("p").agg(
      collect_set(struct(when(!langTagged, col("o_dt")), langTagged)).as("terms"),
      (if (withGraph) max(col("g").isNotNull) else lit(false)).as("hasGraph"))
      .collect()
    val slices = meta.map { m =>
      val p = m.getString(0)
      val terms = m.getSeq[Row](1)
      val kind = OKind.ofSlice(
        terms.map(t => OKind.of(t.getString(0), t.getBoolean(1))))
      val hasLang = terms.exists(_.getBoolean(1))
      val hasGraph = m.getBoolean(2)
      val o = kind match {
        case OKind.KIri | OKind.KStr => col("o_lex")
        case k => col("o_lex").try_cast(OKind.sparkType(k))
      }
      val cols = Seq(col("s"), o.as("o")) ++
        (if (hasLang) Seq(col("o_lang")) else Nil) ++
        (if (hasGraph) Seq(col("g")) else Nil)
      p -> PredicateSlice(frame.filter(col("p") === lit(p)).select(cols: _*),
        kind, hasLang = hasLang, hasGraph = hasGraph)
    }.toMap
    new TriplesGraph(spark, slices, ts)
  }

  /** Build from already-distributed per-predicate DataFrames (each with
    * columns s, o) — the scale path: derive slices from source tables with
    * Spark transforms, no driver-side materialization. */
  def fromSlices(spark: SparkSession, slices: Map[String, PredicateSlice],
      ts: Option[TsProvider] = None): TriplesGraph =
    new TriplesGraph(spark, slices, ts)

  /** [[fromSlices]] with one builder per predicate: each slice is built on
    * its first access and memoised for this graph (the lazy-slice contract
    * on [[TriplesGraph]]), so a query that reads one predicate builds one
    * slice. */
  def fromLazySlices(spark: SparkSession,
      builders: Map[String, () => PredicateSlice],
      ts: Option[TsProvider] = None): TriplesGraph =
    new TriplesGraph(spark, LazyMap(builders), ts)

  /** One kind's persisted form: its `kind` partition tag and the typed
    * column its objects are stored in. */
  private[graph] final case class StoredKind(kind: OKind, hasLang: Boolean,
      tag: String, column: String)

  /** The store's persisted layout, declared once for [[TriplesGraph#save]]
    * and [[load]]. `strlang` is a KStr slice with language tags; it comes
    * before `str` so [[storedKind]] finds it first. */
  private[graph] val storedKinds: Seq[StoredKind] = Seq(
    StoredKind(OKind.KIri, false, "iri", "o_str"),
    StoredKind(OKind.KStr, true, "strlang", "o_str"),
    StoredKind(OKind.KStr, false, "str", "o_str"),
    StoredKind(OKind.KLong, false, "long", "o_long"),
    StoredKind(OKind.KDbl, false, "dbl", "o_dbl"),
    StoredKind(OKind.KBool, false, "bool", "o_bool"),
    StoredKind(OKind.KTs, false, "ts", "o_ts"))

  /** The typed object columns of a stored row, in schema order. */
  private[graph] val storeColumns: Seq[(String, DataType)] =
    storedKinds.map(k => k.column -> OKind.sparkType(k.kind)).distinct

  /** A slice's persisted form; only a KStr slice records its lang tags in
    * the kind tag. */
  private[graph] def storedKind(kind: OKind, hasLang: Boolean): StoredKind =
    storedKinds.find(k => k.kind == kind && (hasLang || !k.hasLang)).get

  /** Reload a graph persisted by [[TriplesGraph#save]]. Slice frames are
    * partition-pruned filters over the one dataset (a constant-predicate
    * scan touches only its p=… directories); subject classes and byClass
    * branches are rebuilt from the cls partition values, so class-aware
    * NPS pruning works identically on a reloaded graph. The bucket count
    * comes from the store's sidecar, and a store without one fails. The
    * partition inventory is one metadata listing at catalog-build time. */
  def load(spark: SparkSession, path: String,
      ts: Option[TsProvider] = None): TriplesGraph = {
    // finish any crashed saveDelta/compact first: readers must only ever
    // see a whole store (old or new), never a half-swapped hybrid
    recoverStore(spark, path)
    val base = spark.read.parquet(path)
    // layout contract: the save-time sidecar is the one source of the
    // bucket count — trusting a caller let a store saved with 8 buckets
    // load under the default 16, making every sb.isin probe silently drop
    // most of a node's triples
    val nBuckets = storeBuckets(spark, path)
    val inventoryRows = base.select("p", "kind", "cls", "sb").distinct().collect()
    // cross-check against the partition inventory: a bucket id at or past
    // the contract means a corrupt/mixed store — fail loudly,
    // subject-addressed pruning would otherwise silently miss rows
    val maxSb = inventoryRows.map(_.getInt(3)).max
    require(maxSb < nBuckets,
      s"store at $path has subject bucket $maxSb but the layout contract " +
        s"says $nBuckets buckets; the store is corrupt or its sidecar " +
        "was rewritten")
    val inventory = inventoryRows
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).distinct
    val slices = inventory.groupBy(_._1).map { case (p, rows) =>
      val kindTag = rows.head._2
      val classes = rows.map(_._3).filterNot(_ == "__all").toSet
      val stored = storedKinds.find(_.tag == kindTag).getOrElse(
        throw new IllegalStateException(s"unknown kind tag $kindTag"))
      def sel(df: DataFrame): DataFrame = {
        // g always present in the stored schema; keeping it (hasGraph=true
        // below) gives loaded graphs full dataset semantics — stores with
        // no named triples have all-null g, which the default-graph isNull
        // filter prunes for free via row-group stats
        val cols = Seq(col("s"), col(stored.column).as("o")) ++
          (if (stored.hasLang) Seq(col("o_lang")) else Nil) ++ Seq(col("g"))
        df.select(cols: _*)
      }
      val whole = sel(base.filter(col("p") === p))
      val byClass = classes.map(c =>
        c -> sel(base.filter(col("p") === p && col("cls") === c))).toMap
      p -> PredicateSlice(whole, stored.kind, stored.hasLang, Nil, classes,
        byClass, hasGraph = true)
    }
    new TriplesGraph(spark, slices, ts, store = Some((base, nBuckets)))
  }
}
