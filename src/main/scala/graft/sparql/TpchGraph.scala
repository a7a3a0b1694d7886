package graft.sparql

import graft.T
import graft.graph.{FusedMember, LazyTsSource, OKind, PredicateSlice, TriplesGraph}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed triples view over the driver's TPC-H-ish parquet tables.
  *
  * Slices are derived with Spark transforms only (no driver-side collect), so
  * the same construction scales to a 100 TB lake: each predicate slice is a
  * projection of a source table and a BGP over n predicates reads only its
  * n slices. A query also builds only the slices it touches: every slice,
  * table and property table is built on first use (the lazy-slice contract
  * on [[TriplesGraph]]), so an ASK over `acctbal` reads just `supplier` and
  * a hybrid time-series query just `events`. Every call builds a fresh graph.
  *
  * The `events` table doubles as the time-series source (id = event_type),
  * with series metadata published into the graph under the reference's
  * vocabulary (hasTimeseries/hasExternalId — testdata.sparql's shape).
  */
object TpchGraph {

  val ns = "urn:graft:"
  private[sparql] def iri(kind: String, c: Column): Column =
    concat(lit(s"$ns$kind:"), c.cast(StringType))
  /** Oracle-SQL spelling of the same IRI construction. */
  def sqlIri(kind: String, expr: String): String =
    s"'$ns$kind:' || CAST($expr AS VARCHAR)"

  val name = s"${ns}name"
  val key = s"${ns}key"
  val inRegion = s"${ns}inRegion"
  val nationOf = s"${ns}nation"
  val acctbal = s"${ns}acctbal"
  val locatedIn = s"${ns}locatedIn"
  val ofSupplier = s"${ns}ofSupplier"
  val quantity = s"${ns}quantity"
  val typeNation = s"${ns}Nation"
  val typeRegion = s"${ns}Region"
  val typeSupplier = s"${ns}Supplier"
  val typeSensor = s"${ns}Sensor"

  def graph(s: SparkSession, dir: String): TriplesGraph = {
    lazy val nation = T.nation(s, dir)
    lazy val region = T.region(s, dir)
    lazy val supplier = T.supplier(s, dir)
    // (l_orderkey, l_linenumber) is NOT unique in the driver's synthetic
    // data; mint line-row IRIs from the stable parquet row index so the two
    // lineitem slices self-join 1:1.
    lazy val lineitem = T.lineitem(s, dir)
      .withColumn("__rid", col("_metadata.row_index"))
    lazy val events = T.events(s, dir)

    val nIri = iri("nation", col("n_nationkey"))
    val rIri = iri("region", col("r_regionkey"))
    val sIri = iri("supplier", col("s_suppkey"))
    val sNIri = iri("nation", col("s_nationkey"))
    val nRIri = iri("region", col("n_regionkey"))
    val lIri = iri("line", col("__rid"))

    def sl(df: DataFrame, s0: Column, o: Column, kind: OKind): PredicateSlice =
      PredicateSlice(df.select(s0.as("s"), o.as("o")), kind)

    // mixed-class slices keep their per-class branches: a typed NPS /
    // variable-predicate scan reads just the matching branch (see
    // PredicateSlice.byClass — (predicate, subject_class) partitioning)
    lazy val nameN = nation.select(nIri.as("s"), col("n_name").as("o"))
    lazy val nameR = region.select(rIri.as("s"), col("r_name").as("o"))
    lazy val nameS = supplier.select(sIri.as("s"), col("s_name").as("o"))

    lazy val typN = nation.select(nIri.as("s"), lit(typeNation).as("o"))
    lazy val typR = region.select(rIri.as("s"), lit(typeRegion).as("o"))
    lazy val typS = supplier.select(sIri.as("s"), lit(typeSupplier).as("o"))
    lazy val typE = events.select(iri("sensor", col("event_type")).as("s"),
      lit(typeSensor).as("o")).distinct()

    lazy val locS = supplier.select(sIri.as("s"), sNIri.as("o"))
    lazy val locN = nation.select(nIri.as("s"), nRIri.as("o"))

    // time-series metadata: one series per event_type
    lazy val sensors = events.select(col("event_type")).distinct()
    def seriesSlice(o: Column, kind: OKind, cls: String): PredicateSlice =
      PredicateSlice(sensors.select(iri("series", col("event_type")).as("s"),
        o.as("o")), kind, subjectClasses = Set(cls))

    // wide property tables for same-subject scan fusion: one row per entity
    // with a column per predicate, so an n-predicate star over one entity
    // type reads the source table once (the executor fuses automatically)
    lazy val nationWide = nation.select(nIri.as("s"), col("n_name").as("name"),
      col("n_nationkey").as("key"), nRIri.as("inRegion"),
      nRIri.as("locatedIn"), lit(typeNation).as("rdftype"))
    lazy val regionWide = region.select(rIri.as("s"), col("r_name").as("name"),
      lit(typeRegion).as("rdftype"))
    lazy val supplierWide = supplier.select(sIri.as("s"), col("s_name").as("name"),
      col("s_acctbal").as("acctbal"), sNIri.as("nationOf"),
      sNIri.as("locatedIn"), lit(typeSupplier).as("rdftype"))
    lazy val lineitemWide = lineitem.select(lIri.as("s"),
      iri("supplier", col("l_suppkey")).as("ofSupplier"),
      col("l_quantity").cast(LongType).as("quantity"))
    def nF(c: String) = FusedMember("nation", nationWide, c)
    def rF(c: String) = FusedMember("region", regionWide, c)
    def sF(c: String) = FusedMember("supplier", supplierWide, c)
    def lF(c: String) = FusedMember("lineitem", lineitemWide, c)

    // declared subject classes per slice (complete — builder contract in
    // TriplesGraph): lets typed variable-predicate / NPS scans prune the
    // vertical partitions whose subjects can't match. Line rows and series
    // nodes carry no rdf:type triple, so their marker classes never match a
    // pinned type — a fact-table slice is never unioned into a
    // dimension-typed NPS scan.
    val typeLine = s"${ns}Line"
    val typeSeries = s"${ns}Series"
    val slices = Map[String, () => PredicateSlice](
      name -> (() => PredicateSlice(
        nameN.unionByName(nameR).unionByName(nameS), OKind.KStr,
        fused = Seq(nF("name"), rF("name"), sF("name")),
        subjectClasses = Set(typeNation, typeRegion, typeSupplier),
        byClass = Map(typeNation -> nameN, typeRegion -> nameR,
          typeSupplier -> nameS))),
      key -> (() => sl(nation, nIri, col("n_nationkey"), OKind.KLong)
        .copy(fused = Seq(nF("key")), subjectClasses = Set(typeNation))),
      graft.rdf.Rdf.typ -> (() => PredicateSlice(
        typN.unionByName(typR).unionByName(typS).unionByName(typE), OKind.KIri,
        fused = Seq(nF("rdftype"), rF("rdftype"), sF("rdftype")),
        subjectClasses = Set(typeNation, typeRegion, typeSupplier, typeSensor),
        byClass = Map(typeNation -> typN, typeRegion -> typR,
          typeSupplier -> typS, typeSensor -> typE))),
      inRegion -> (() => sl(nation, nIri, nRIri, OKind.KIri)
        .copy(fused = Seq(nF("inRegion")), subjectClasses = Set(typeNation))),
      nationOf -> (() => sl(supplier, sIri, sNIri, OKind.KIri)
        .copy(fused = Seq(sF("nationOf")), subjectClasses = Set(typeSupplier))),
      acctbal -> (() => sl(supplier, sIri, col("s_acctbal"), OKind.KDbl)
        .copy(fused = Seq(sF("acctbal")), subjectClasses = Set(typeSupplier))),
      locatedIn -> (() => PredicateSlice(locS.unionByName(locN), OKind.KIri,
        fused = Seq(nF("locatedIn"), sF("locatedIn")),
        subjectClasses = Set(typeSupplier, typeNation),
        byClass = Map(typeSupplier -> locS, typeNation -> locN))),
      ofSupplier -> (() =>
        sl(lineitem, lIri, iri("supplier", col("l_suppkey")), OKind.KIri)
          .copy(fused = Seq(lF("ofSupplier")), subjectClasses = Set(typeLine))),
      quantity -> (() =>
        sl(lineitem, lIri, col("l_quantity").cast(LongType), OKind.KLong)
          .copy(fused = Seq(lF("quantity")), subjectClasses = Set(typeLine))),
      graft.rdf.Otit.hasTimeseries -> (() => PredicateSlice(
        sensors.select(iri("sensor", col("event_type")).as("s"),
          iri("series", col("event_type")).as("o")), OKind.KIri,
        subjectClasses = Set(typeSensor))),
      graft.rdf.Otit.hasExternalId -> (() =>
        seriesSlice(col("event_type"), OKind.KStr, typeSeries)),
      // per-series declared value datatype (the reference's injected
      // `?ts otit_swt:hasDatatype` vocabulary): events.value is double
      graft.rdf.Otit.hasDatatype -> (() =>
        seriesSlice(lit(graft.rdf.Xsd.double), OKind.KIri, typeSeries)),
    )
    val ts = new LazyTsSource(() =>
      events.select(col("event_type").as("id"), col("ts"), col("value")))
    TriplesGraph.fromLazySlices(s, slices, Some(ts))
  }

  /** Once-per-(JVM, dir) N-Triples round trip of the graph's DIMENSION
    * slices (names, region/nation edges, acctbal): export through the
    * distributed typed sink, parse back through `sources.NTriples`, and
    * re-type via `toGraph` — q123's serialize→parse→re-type surface. The
    * fact/sensor slices are excluded to keep the interchange file
    * dimension-sized; they round-trip the same way (NTriplesSpec). */
  private val roundTripped =
    scala.collection.concurrent.TrieMap.empty[String, String]
  def roundTrippedGraph(s: SparkSession, dir: String): TriplesGraph = {
    val keep = Set(name, inRegion, nationOf, acctbal)
    val path = roundTripped.getOrElseUpdate(dir, {
      val g0 = graph(s, dir)
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ntrt-" + dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      g0.writeNTriplesDistributed(out,
        excluded = (g0.slices.keySet -- keep).toSeq)
      out
    })
    graft.sources.NTriples.toGraph(s, graft.sources.NTriples.read(s, path))
  }

  /** Registered IRI of the in-process customer "endpoint" (see
    * [[customerGraph]]). */
  val customerEndpoint = s"${ns}service:customers"
  val typeCustomer = s"${ns}Customer"
  val mktSegment = s"${ns}mktSegment"

  /** A second, disjoint graph held by the customer "service": customers
    * (absent from the main graph) with their names, market segments, and
    * `nationOf` links whose OBJECT IRIs intentionally coincide with the
    * main graph's nation IRIs — the shared-variable join surface a
    * federated `SERVICE` query exercises. */
  def customerGraph(s: SparkSession, dir: String): TriplesGraph =
    customerGraphOf(s, T.customer(s, dir))

  /** Parity-sharded customer endpoints: two disjoint federated datasets
    * (even/odd custkey) behind distinct endpoint IRIs — the fixture for
    * variable-endpoint SERVICE (q111), where each solution row routes to
    * ITS endpoint and sees only that shard's customers. */
  val customerEndpointEven = s"${ns}service:customersEven"
  val customerEndpointOdd = s"${ns}service:customersOdd"
  def customerParityGraph(s: SparkSession, dir: String, parity: Int): TriplesGraph =
    customerGraphOf(s, T.customer(s, dir)
      .filter(col("c_custkey") % 2 === parity))

  private def customerGraphOf(s: SparkSession, table: => DataFrame): TriplesGraph = {
    lazy val customer = table
    val cIri = iri("customer", col("c_custkey"))
    def cs(o: Column, kind: OKind): () => PredicateSlice = () =>
      PredicateSlice(customer.select(cIri.as("s"), o.as("o")), kind,
        subjectClasses = Set(typeCustomer))
    val slices = Map(
      name -> cs(col("c_name"), OKind.KStr),
      mktSegment -> cs(col("c_mktsegment"), OKind.KStr),
      nationOf -> cs(iri("nation", col("c_nationkey")), OKind.KIri),
      acctbal -> cs(col("c_acctbal"), OKind.KDbl),
      graft.rdf.Rdf.typ -> cs(lit(typeCustomer), OKind.KIri),
    )
    TriplesGraph.fromLazySlices(s, slices)
  }
}
