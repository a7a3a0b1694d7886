package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for the query catalog.
  *
  * Determinism conventions (the driver hash-compares our parquet against a
  * DuckDB oracle, so results must be bit-identical):
  *  - every catalog query ends with a total ORDER BY over its output columns
  *    (Spark default asc = NULLS FIRST; oracle SQL says NULLS FIRST explicitly);
  *  - floating-point aggregates are computed in exact DECIMAL arithmetic and
  *    cast to DOUBLE at the end, so sum order cannot perturb low bits.
  */
object T {
  /** The driver tables' schemas, declared rather than inferred: a schemaless
    * `read.parquet` runs a one-task Spark job per call just to read the
    * footer, and every SPARQL graph build reads five tables. Each schema is
    * exactly what Spark infers from the test data (every column nullable,
    * `timestamp[us]` columns as TIMESTAMP_NTZ), so outputs are unchanged;
    * DeclaredSchemaSpec fails if a table drifts from its declaration.
    * `events` is declared with its micros `ts`; [[events]] swaps in the
    * type the file's own footer calls for. */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.schema(schemas(name)).parquet(path(dir, name))

  def lineitem(s: SparkSession, dir: String): DataFrame = t(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame   = t(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = t(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = t(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = t(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame   = t(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame   = t(s, dir, "region")
  /** events.parquet's ts arrives in whichever physical form the generator
    * used: TIMESTAMP(NANOS) surfaces as Long nanos (the session sets
    * spark.sql.legacy.parquet.nanosAsLong), TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ. Normalize both to a
    * micros TimestampType so every catalog query sees one type. The NTZ→TZ
    * cast is a numeric identity under the UTC session timezone; the nanos
    * path uses integer division (doubles can't hold epoch-nanos exactly).
    * Which form a file holds is read from its footer on the driver, which
    * runs no Spark job. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val p = path(dir, "events")
    val tsType = eventsTsType(s, p)
    val declared = StructType(schemas("events").map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val df = s.read.schema(declared).parquet(p)
    tsType match {
      case LongType          => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType  => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                 => df
    }
  }

  /** The type Spark infers for the `ts` column of the parquet file at `p`,
    * from its footer: Long for TIMESTAMP(NANOS), TIMESTAMP_NTZ for a
    * timestamp not adjusted to UTC, else TIMESTAMP. */
  private def eventsTsType(s: SparkSession, p: String): DataType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{
      TimeUnit, TimestampLogicalTypeAnnotation}
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p), s.sparkContext.hadoopConfiguration))
    try {
      val footer = reader.getFooter.getFileMetaData.getSchema
      footer.getType(footer.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case a: TimestampLogicalTypeAnnotation if a.getUnit == TimeUnit.NANOS =>
          LongType
        case a: TimestampLogicalTypeAnnotation if !a.isAdjustedToUTC =>
          TimestampNTZType
        case _ => TimestampType
      }
    } finally reader.close()
  }
  def documents(s: SparkSession, dir: String): DataFrame  = t(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  val dec2: DecimalType = DecimalType(18, 2)
  /** Exact 2-decimal view of a double column. */
  def d2(c: Column): Column = c.cast(dec2)
  /** Order-insensitive exact sum of a 2-decimal-valued double column. */
  def dsum(c: Column): Column = sum(d2(c)).cast(DoubleType)
  /** Exact deterministic mean (exact decimal sum / non-null count). */
  def davg(c: Column): Column = (sum(d2(c)).cast(DoubleType) / count(c)).as("avg")

  /** Oracle-SQL spellings of the same helpers. */
  def sqlDsum(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"
  def sqlDavg(x: String): String = s"(CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE) / COUNT($x))"

  /** localCheckpoint for ITERATIVE fixpoints, severing the STATS lineage
    * as well as the RDD lineage. Spark's `LogicalRDD.fromDataset`
    * deliberately propagates the origin plan's ESTIMATED statistics (so
    * broadcast-worthiness survives a checkpoint) — but in a loop whose
    * round-r plan joins the round-(r−1) checkpoint k times, the size
    * estimate obeys L_r ≈ c·L_{r−1}^k, so its BIT LENGTH grows k^r and
    * Catalyst's BigInteger stats arithmetic overflows ("BigInteger would
    * overflow supported range") once the loop runs deep enough. The 100×
    * scale rehearsal hit exactly this: q86's connected components
    * converges in ~8 rounds at sf0.1 (fine) but needs ~15+ on the 100×
    * corpus, and round ~15's exponent tower (4^15 · 31 bits) crashes the
    * PLANNER — a failure mode invisible at small scale. Rebuilding the
    * frame from the checkpointed RDD yields a LogicalRDD with the default
    * size estimate (constant per round, no recurrence); AQE re-derives
    * real sizes from runtime shuffle statistics, so join strategies are
    * unchanged. The Row re-encode this adds is node-table-sized — noise
    * next to the per-round joins. */
  def checkpointFlatStats(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }
}

/** One catalog entry: a Spark query plus (optionally) its DuckDB oracle SQL.
  * `maint` marks a MAINTENANCE entry (store build/fold/compact cycles, not
  * queries) — the bench runs those in a separate tail phase so their store
  * churn can't perturb the query entries' interleaved medians (VERDICT r11
  * #4). */
final case class Q(
    name: String,
    sql: Option[String],
    maint: Boolean = false)(
    val fn: (SparkSession, String) => DataFrame)

object Q {

  /** A query entry with its oracle SQL. */
  def q(name: String, sql: String)(
      fn: (SparkSession, String) => DataFrame): Q = Q(name, Some(sql))(fn)

  /** A MAINTENANCE entry with its oracle SQL: a store build/fold/compact
    * cycle rather than a query, benched in the separate tail phase. */
  def qm(name: String, sql: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, Some(sql), maint = true)(fn)
}
