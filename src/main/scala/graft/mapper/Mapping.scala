package graft.mapper

import graft.graph.TriplesGraph
import graft.rdf._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OTTR template expansion over DataFrames → RDF triples.
  *
  * The dataflow mirrors the reference mapper's lifecycle
  * (mapper/src/mapping.rs:245-317: validate → recurse to ottr:Triple leaves
  * → concatenate into the store), re-expressed as Spark column transforms:
  * each ottr:Triple leaf is a `select` over the input frame, list expanders
  * are `explode`, nested template calls are column renames — all lazy, so a
  * whole document expands into one union plan that scales with the input.
  *
  * Declared/inferred parameter types are validated against the frame's Spark
  * schema and serialized with the reference's datatype mapping
  * (validation_inference.rs:179-441): int/long/float/double/boolean/string
  * literal columns, `xsd:date` for dates, `xsd:dateTime` for naive
  * timestamps (TimestampNTZ) and `xsd:dateTimeStamp` for instants
  * (TimestampType, rendered in [[serializationZone]] with an explicit
  * offset).
  *
  * The expanded store doubles as a queryable [[TriplesGraph]] ([[toGraph]],
  * typed by the graph layer's one slice rule), which is the engine's native
  * fixture-ingest path (SURVEY §3.2).
  */
final class Mapping(doc0: Stottr.Document, spark: SparkSession,
    val serializationZone: String = "UTC") {

  import Stottr._

  /** Document after LUB type inference (idempotent if already inferred). */
  val doc: Stottr.Document = Stottr.inferTypes(doc0)

  /** Accumulated triples: s, p, o_lex, o_dt (null = IRI object), o_lang. */
  private var store: Option[DataFrame] = None

  private val tripleSchema = StructType(Seq(
    StructField("s", StringType), StructField("p", StringType),
    StructField("o_lex", StringType), StructField("o_dt", StringType),
    StructField("o_lang", StringType)))

  def triplesDf: DataFrame = store.getOrElse(
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      tripleSchema))

  /** IRI minting for parameters absent from the input frame (reference
    * ExpandOptions.mint_iris + MintingOptions, mapper/src/mapping/mint.rs):
    * numbered IRIs `prefix + (startAt + rowIndex)` in key order. */
  final case class MintingOptions(prefix: String, startAt: Long)

  /** Resolve a parameter through IRIs minted by an earlier expand of another
    * template (reference ExpandOptions.resolve_iris + ResolveIRI,
    * validation_inference/resolve_columns.rs): join this frame's
    * `keyColumn` (scalar or list of keys) against the minted-IRI frame of
    * (`template`, `argument`). */
  final case class ResolveIri(keyColumn: String, template: String, argument: String)

  /** Minted-IRI frames keyed by TEMPLATE IRI (the reference's
    * report.minted_iris layout): columns (Key, <param>...) — used by
    * [[ResolveIri]] to resolve the same entities in later expands. */
  var mintedIris: Map[String, DataFrame] = Map.empty

  /** Expand `templateIri` over `df` (one column per template parameter).
    * `languageTags` optionally tags string parameters with a language
    * (reference ExpandOptions.language_tags); `mintIris` mints IRIs for
    * parameters the frame does not provide; `resolveIris` binds parameters
    * through previously minted IRIs by foreign key. */
  def expand(templateIri: String, df: DataFrame,
      languageTags: Map[String, String] = Map.empty,
      mintIris: Map[String, MintingOptions] = Map.empty,
      resolveIris: Map[String, ResolveIri] = Map.empty): Unit = {
    val t = doc.templates.getOrElse(templateIri,
      throw new IllegalArgumentException(s"unknown template $templateIri"))
    var input = df
    var forcedTypes = Map.empty[String, PType]

    // ---- IRI minting
    mintIris.foreach { case (param, opts) =>
      if (!input.columns.contains(param)) {
        val keyCol = input.columns.headOption.getOrElse(
          throw new IllegalArgumentException("minting needs a key column"))
        // Global numbering in key order WITHOUT a global Window (which is a
        // single-task sort at scale): range-partition by key so partition i
        // holds strictly smaller keys than partition i+1, sort within, then
        // zipWithIndex — the index is the global key rank, computed with one
        // lightweight partition-size count job.
        val sorted = input.repartitionByRange(col(keyCol))
          .sortWithinPartitions(col(keyCol))
        val schema2 = sorted.schema.add(StructField(param, StringType))
        // capture only primitives: MintingOptions is an inner class whose
        // $outer (this Mapping, holding the SparkSession) is unserializable
        val prefix = opts.prefix
        val startAt = opts.startAt
        val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ (prefix + (startAt + i).toString))
        }
        input = spark.createDataFrame(rdd, schema2)
        forcedTypes += param -> PBasic(Xsd.anyURI)
        val mintedFrame = input.select(col(keyCol).as("Key"), col(param))
        mintedIris += templateIri -> (mintedIris.get(templateIri) match {
          case Some(prev) if prev.columns.contains(param) =>
            prev.unionByName(mintedFrame)
          case Some(prev) => prev.join(mintedFrame, Seq("Key"), "full_outer")
          case None => mintedFrame
        })
      }
    }

    // ---- IRI resolution through minted frames (reference resolve_columns.rs)
    resolveIris.foreach { case (param, r) =>
      if (!input.columns.contains(r.keyColumn))
        throw new IllegalArgumentException(
          s"resolve for $param: missing foreign-key column ${r.keyColumn}")
      val minted = mintedIris.getOrElse(r.template,
        throw new IllegalArgumentException(
          s"no minted IRIs recorded for template ${r.template}"))
      if (!minted.columns.contains(r.argument))
        throw new IllegalArgumentException(
          s"no minted IRIs for argument ${r.argument} of ${r.template}")
      val mapDf = minted.select(col("Key").as("__rk"), col(r.argument).as(param))
      input.schema(r.keyColumn).dataType match {
        case ArrayType(_, _) =>
          // list-valued foreign key: explode with positions, resolve each
          // element, re-fold in order (reference unfold_list + agg_list)
          val rid = "__resolve_rid"
          val withId = input.withColumn(rid, monotonically_increasing_id())
            .localCheckpoint() // nondeterministic id feeds a diamond below
          val resolvedLists = withId
            .select(col(rid), posexplode(col(r.keyColumn)).as(Seq("__pos", "__fk")))
            .join(mapDf, col("__fk") === col("__rk"), "left")
            .groupBy(col(rid))
            .agg(transform(
              array_sort(collect_list(struct(col("__pos"), col(param).as("v")))),
              e => e("v")).as(param))
          input = withId.drop(r.keyColumn)
            .join(resolvedLists, Seq(rid), "left").drop(rid)
          forcedTypes += param -> PNEList(PBasic(Xsd.anyURI))
        case _ =>
          input = input.join(mapDf, input(r.keyColumn) === mapDf("__rk"), "left")
            .drop("__rk").drop(r.keyColumn)
          forcedTypes += param -> PBasic(Xsd.anyURI)
      }
    }

    // ---- default values for absent columns (nom_parsing.rs default_value)
    t.params.foreach { p =>
      if (!input.columns.contains(p.name)) p.default.foreach { d =>
        val (c, pt) = defaultColumn(d)
        input = input.withColumn(p.name, c)
        pt.foreach(x => forcedTypes += p.name -> x)
      }
    }

    val t2 = t.copy(params = t.params.map(p =>
      forcedTypes.get(p.name) match {
        case Some(ft) if p.ptype.isEmpty => p.copy(ptype = Some(ft))
        case _ => p
      }))

    validateParams(t2, input)
    val out = expandTemplate(t2, input, languageTags)
    store = Some(store.fold(out)(_.unionByName(out)))
  }

  private def defaultColumn(d: Arg): (Column, Option[PType]) = d match {
    case ALit(l) => (litColumn(l)._1, Some(PBasic(l.datatype)))
    case AIri(i) => (lit(i), Some(PBasic(Xsd.anyURI)))
    case ABlank(id) => (lit("_:" + id), Some(PBasic(Xsd.anyURI)))
    case ANone => (lit(null: String), None)
    case AList(items) =>
      val cols = items.map {
        case ALit(l) => litColumn(l)._1
        case AIri(i) => lit(i)
        case other => throw new IllegalArgumentException(s"default list item $other")
      }
      val elemT = items.collectFirst { case ALit(l) => PBasic(l.datatype) }
        .getOrElse(PBasic(Xsd.anyURI))
      (array(cols: _*), Some(PList(elemT)))
    case other => throw new IllegalArgumentException(s"unsupported default $other")
  }

  // ------------------------------------------------------------ validation
  /** Declared/inferred-type validation (reference
    * validation_inference.rs:38-354): static Spark-type conformance per
    * parameter, then ONE eager job checking the row-level rules
    * (non-optional ⇒ no nulls; `!` non-blank ⇒ no "_:" values;
    * NEList ⇒ no empty lists). */
  private def validateParams(t: Template, input: DataFrame): Unit = {
    t.params.foreach { p =>
      input.schema.fields.find(_.name == p.name) match {
        case None if p.optional || p.default.isDefined =>
        case None => throw new IllegalArgumentException(
          s"missing column for parameter ${p.name}")
        case Some(f) => p.ptype.foreach { pt =>
          if (!sparkTypeOk(pt, f.dataType))
            throw new IllegalArgumentException(
              s"parameter ${p.name}: ${PType.render(pt)} is incompatible with " +
                s"column type ${f.dataType.simpleString}")
        }
      }
    }
    val checks: Seq[(String, Column)] = t.params.flatMap { p =>
      input.schema.fields.find(_.name == p.name).toSeq.flatMap { f =>
        val nullCheck =
          if (!p.optional) Seq(s"parameter ${p.name} is non-optional but has nulls" ->
            col(p.name).isNull)
          else Nil
        val blankCheck =
          if (p.nonBlank && f.dataType == StringType)
            Seq(s"parameter ${p.name} is non-blank (!) but has blank-node values" ->
              col(p.name).startsWith("_:"))
          else Nil
        val neCheck = p.ptype match {
          case Some(PNEList(_)) =>
            Seq(s"parameter ${p.name} is NEList but has empty lists" ->
              (col(p.name).isNotNull && size(col(p.name)) === 0))
          case _ => Nil
        }
        nullCheck ++ blankCheck ++ neCheck
      }
    }
    if (checks.nonEmpty) {
      val bad = input
        .filter(checks.map(_._2).reduce(_ || _))
        .select(checks.map { case (msg, c) => c.as(msg) }: _*)
        .limit(1).collect()
      bad.headOption.foreach { row =>
        val idx = checks.indices.find(i => !row.isNullAt(i) && row.getBoolean(i)).getOrElse(0)
        throw new IllegalArgumentException(checks(idx)._1)
      }
    }
  }

  /** Strict-ish Spark-type conformance for a declared parameter type
    * (reference convert_nonlist_series_to_value_struct_if_required).
    * xsd:integer accepts any integral width (our looser historical rule). */
  private def sparkTypeOk(pt: PType, dt: DataType): Boolean = (pt, dt) match {
    case (PList(i), ArrayType(e, _)) => sparkTypeOk(i, e)
    case (PNEList(i), ArrayType(e, _)) => sparkTypeOk(i, e)
    case (PLub(i), other) => sparkTypeOk(i, other)
    case (PBasic(b), d) => b match {
      case Xsd.anyURI | Xsd.string => d == StringType
      case Xsd.boolean => d == BooleanType
      case Xsd.int | Xsd.unsignedInt => d == IntegerType
      case Xsd.long | Xsd.unsignedLong => d == LongType
      case Xsd.integer =>
        Seq(IntegerType, LongType, ShortType, ByteType).contains(d)
      case Xsd.float => d == FloatType
      case Xsd.double => d == DoubleType
      case Xsd.decimal => d.isInstanceOf[DecimalType] || d == DoubleType
      case Xsd.date => d == DateType
      case Xsd.dateTime => d == TimestampType || d == TimestampNTZType
      case Xsd.dateTimeStamp => d == TimestampType
      case _ => true // unknown datatype IRIs: no structural constraint
    }
    case (PList(_) | PNEList(_), _) => false
  }

  private var tmpCounter = 0
  private def tmpCol(): String = { tmpCounter += 1; s"__expand$tmpCounter" }

  private def expandTemplate(t: Template, df: DataFrame,
      languageTags: Map[String, String]): DataFrame = {
    val parts = t.instances.map(i => expandInstance(t, i, df, languageTags))
    parts.reduceOption(_.unionByName(_)).getOrElse(triplesDf.limit(0))
  }

  private def expandInstance(owner: Template, inst: Instance, df0: DataFrame,
      languageTags: Map[String, String]): DataFrame = {
    // list expanders: explode list-valued args into fresh columns
    var df = df0
    val expander = inst.expander.map(_.toLowerCase)
    // zipMin/zipMax over list COLUMNS zip positionally in one arrays_zip
    // explode; cross explodes each list independently (cartesian per row)
    val zipListVars = inst.args.collect { case AListVar(v) => v }
    val zipRenames: Map[String, String] =
      if (zipListVars.nonEmpty &&
          (expander.contains("zipmin") || expander.contains("zipmax"))) {
        val z = tmpCol()
        df = df.withColumn(z, explode(arrays_zip(zipListVars.map(col): _*)))
        if (expander.contains("zipmin"))
          df = df.filter(zipListVars.map(v => col(z)(v).isNotNull).reduce(_ && _))
        zipListVars.map { v =>
          val c = tmpCol()
          df = df.withColumn(c, col(z)(v))
          v -> c
        }.toMap
      } else Map.empty
    val args = inst.args.map {
      case AListVar(v) if zipRenames.contains(v) =>
        AVarTyped(zipRenames(v), elementXsd(owner, v))
      case AListVar(v) =>
        val c = tmpCol()
        df = df.withColumn(c, explode(col(v)))
        AVarTyped(c, elementXsd(owner, v))
      case AList(items) if inst.expander.isDefined =>
        val c = tmpCol()
        val arr = array(items.map {
          case ALit(l) => litColumn(l)._1
          case AIri(i) => lit(i)
          case AVar(v) => col(v)
          case other => throw new IllegalArgumentException(s"nested list $other")
        }: _*)
        df = df.withColumn(c, explode(arr))
        // element datatype: from the first literal item (constants) or var
        val elemDt = items.collectFirst { case ALit(l) => l.datatype }
        AVarTyped(c, elemDt)
      case a => a
    }
    if (inst.template == ottrTriple ||
        inst.template == "http://ns.ottr.xyz/0.4/Triple") {
      val Seq(sArg, pArg, oArg) = args
      val sCol = termColumnIri(owner, sArg)
      val pCol = termColumnIri(owner, pArg)
      val (oLex, oDt, oLang) = objectColumns(owner, oArg, df, languageTags)
      df.select(sCol.as("s"), pCol.as("p"), oLex.as("o_lex"),
        oDt.as("o_dt"), oLang.as("o_lang"))
    } else {
      val callee = doc.templates.getOrElse(inst.template,
        throw new IllegalArgumentException(s"unknown template ${inst.template}"))
      // bind callee params to caller columns/constants
      val bound = callee.params.zip(args).map { case (p, a) =>
        (a match {
          case AVar(v) => col(v)
          case AVarTyped(v, _) => col(v)
          case AIri(i) => lit(i)
          case ABlank(id) => lit("_:" + id)
          case ANone => lit(null: String)
          case ALit(l) => litColumn(l)._1
          case AList(items) => array(items.map {
            case ALit(l) => litColumn(l)._1
            case AIri(i) => lit(i)
            case AVar(v) => col(v)
            case other => throw new IllegalArgumentException(s"nested list $other")
          }: _*)
        }).as(p.name)
      }
      // language tags follow the caller's column names through the call
      val renamedTags = callee.params.zip(args).flatMap { case (p, a) =>
        a match {
          case AVar(v) => languageTags.get(v).map(p.name -> _)
          case _ => None
        }
      }.toMap
      expandTemplate(callee, df.select(bound: _*), renamedTags)
    }
  }

  /** Internal marker for exploded list elements carrying a datatype. */
  private case class AVarTyped(name: String, dt: Option[String]) extends Stottr.Arg

  /** Element datatype of a list-typed parameter, if declared/inferred. */
  private def elementXsd(owner: Template, v: String): Option[String] =
    paramType(owner, v).collect {
      case PList(i) => PType.leaf(i)
      case PNEList(i) => PType.leaf(i)
      case PLub(i) => PType.leaf(i)
    }

  private def litColumn(l: Lit): (Column, String) = {
    val c =
      if (Xsd.numericLong(l.datatype)) lit(l.lexical.toLong)
      else if (Xsd.numericDouble(l.datatype)) lit(l.lexical.toDouble)
      else if (l.datatype == Xsd.boolean) lit(l.lexical.toBoolean)
      else lit(l.lexical)
    (c, l.datatype)
  }

  private def paramType(owner: Template, v: String): Option[PType] =
    owner.params.find(_.name == v).flatMap(_.ptype)

  private def termColumnIri(owner: Template, a: Arg): Column = a match {
    case AVar(v) => col(v)
    case AVarTyped(v, _) => col(v)
    case AIri(i) => lit(i)
    case ABlank(id) => lit("_:" + id)
    case ALit(l) => lit(l.lexical)
    case ANone => throw new IllegalArgumentException("none in IRI position")
    case AList(_) => throw new IllegalArgumentException("list in IRI position")
  }

  /** Spark column type → serialized XSD datatype (reference
    * polars_datatype_to_xsd_datatype, validation_inference.rs:382-407):
    * TimestampType is an instant (tz-aware) → xsd:dateTimeStamp;
    * TimestampNTZ is naive → xsd:dateTime. */
  private def xsdOfSpark(dt: DataType): String = dt match {
    case IntegerType => Xsd.int
    case LongType => Xsd.long
    case ShortType | ByteType => Xsd.int
    case DoubleType => Xsd.double
    case FloatType => Xsd.float
    case BooleanType => Xsd.boolean
    case DateType => Xsd.date
    case TimestampType => Xsd.dateTimeStamp
    case TimestampNTZType => Xsd.dateTime
    case _ => Xsd.string
  }

  /** Lexical form of a column (reference convert_nonlist_series…):
    * timestamps get XSD datetime lexicals — `%Y-%m-%dT%H:%M:%S%.f` for
    * naive values, plus a `±HH:MM` offset in [[serializationZone]] for
    * instants; everything else is Spark's canonical string cast. */
  private def lexicalColumn(c: Column, dt: DataType): Column =
    graft.rdf.NtFormat.lexical(c, dt, serializationZone)

  private def objectColumns(owner: Template, a: Arg, df: DataFrame,
      languageTags: Map[String, String]): (Column, Column, Column) = a match {
    case AIri(i) => (lit(i), lit(null: String), lit(null: String))
    case ABlank(id) => (lit("_:" + id), lit(null: String), lit(null: String))
    case ANone => (lit(null: String), lit(null: String), lit(null: String))
    case ALit(l) if l.lang.isDefined =>
      (lit(l.lexical), lit(null: String), lit(l.lang.get))
    case ALit(l) => (lit(l.lexical), lit(l.datatype), lit(null: String))
    case AVar(v) =>
      val sparkDt = df.schema(v).dataType
      paramType(owner, v).map(PType.leaf) match {
        case Some(Xsd.anyURI) => (col(v), lit(null: String), lit(null: String))
        case Some(t0) => (lexicalColumn(col(v), sparkDt), lit(t0), lit(null: String))
        case None =>
          languageTags.get(v) match {
            case Some(lang) =>
              (col(v).cast(StringType), lit(null: String), lit(lang))
            case None =>
              (lexicalColumn(col(v), sparkDt), lit(xsdOfSpark(sparkDt)),
                lit(null: String))
          }
      }
    case AVarTyped(v, dtOpt) =>
      val sparkDt = df.schema.fields.find(_.name == v).map(_.dataType)
        .getOrElse(StringType)
      val dt = dtOpt.getOrElse(xsdOfSpark(sparkDt))
      if (dt == Xsd.anyURI) (col(v), lit(null: String), lit(null: String))
      else (lexicalColumn(col(v), sparkDt), lit(dt), lit(null: String))
    case AList(_) =>
      throw new IllegalArgumentException("un-expanded list in object position")
  }

  // ------------------------------------------------------------- exports
  /** Distributed N-Triples view: one string line per triple, still lazy —
    * the one formatter behind [[writeNTriplesDistributed]] and
    * [[toNTriples]] (shared spelling: [[graft.rdf.NtFormat]]). */
  def ntriplesLines: DataFrame = triplesDf.select(NtFormat.line(col("s"),
    col("p"), col("o_lex"), col("o_dt"), col("o_lang")).as("value"))

  /** Distributed N-Triples sink: every executor writes its partitions in
    * parallel (`text` sink) — the path a 100 TB graph takes out of the
    * engine. The driver-side [[toNTriples]] collects the same lines for
    * small results. */
  def writeNTriplesDistributed(path: String): Unit =
    ntriplesLines.write.mode("overwrite").text(path)

  /** N-Triples serialization (reference: mapping/ntriples_write.rs:52):
    * the [[ntriplesLines]] formatter, collected. Driver-side convenience —
    * use [[writeNTriplesDistributed]] for anything big. */
  def toNTriples: Seq[String] =
    ntriplesLines.collect().toSeq.map(_.getString(0))

  /** In-memory term export (reference: mapping/export_triples.rs:7-121). */
  def exportTriples: Seq[(Term, String, Term)] =
    triplesDf.collect().toSeq.map { r =>
      def res(x: String): Term =
        if (x.startsWith("_:")) Blank(x.drop(2)) else Iri(x)
      val o: Term =
        if (r.isNullAt(3) && r.isNullAt(4)) res(r.getString(2))
        else if (!r.isNullAt(4)) Lit(r.getString(2), Xsd.langString, Some(r.getString(4)))
        else Lit(r.getString(2), r.getString(3))
      (res(r.getString(0)), r.getString(1), o)
    }

  /** Distributed handoff to the query engine: per-predicate typed slices
    * over the expanded triples ([[graft.graph.TriplesGraph.fromLexical]] —
    * one metadata aggregate; the slice frames stay lazy). */
  def toGraph: TriplesGraph = TriplesGraph.fromLexical(spark, triplesDf)
}

object Mapping {
  def fromString(stottr: String, spark: SparkSession,
      serializationZone: String = "UTC"): Mapping =
    new Mapping(Stottr.parse(stottr), spark, serializationZone)

  /** Several stOttr documents into one mapping (reference from_strs). */
  def fromStrings(stottrs: Seq[String], spark: SparkSession,
      serializationZone: String = "UTC"): Mapping =
    new Mapping(Stottr.parseAll(stottrs), spark, serializationZone)
}
