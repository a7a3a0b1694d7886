package graft

/** Catalog-wide output-schema lint: every entry's result schema must be
  * scalar-only (no array/map/struct/binary), because the driver harness
  * canonicalizes rows with a pandas sort that dies on nested values — the
  * r6 q95_feature_hash gate failure. Running the lint here means a
  * nested-typed entry fails `sbt test` at build time, not a driver round.
  */
class CatalogSchemaLintSpec extends SparkTestBase {


  test("every catalog entry emits a scalar-only schema") {
    Catalog.all.foreach { q =>
      val schema = q.fn(spark, sf).schema
      Verify.assertScalarSchema(q.name, schema)
    }
  }

  test("the lint itself rejects nested and binary columns by name") {
    import org.apache.spark.sql.types._
    val bad = StructType(Seq(
      StructField("ok", LongType),
      StructField("arr", ArrayType(IntegerType)),
      StructField("bin", BinaryType)))
    val e = intercept[IllegalArgumentException] {
      Verify.assertScalarSchema("q_demo", bad)
    }
    assert(e.getMessage.contains("q_demo"))
    assert(e.getMessage.contains("arr"))
    assert(e.getMessage.contains("bin"))
    // and passes a scalar schema untouched
    Verify.assertScalarSchema("q_ok",
      StructType(Seq(StructField("a", StringType), StructField("b", DoubleType))))
  }

  test("every catalog oracle passes the HUGEINT-promotion lint") {
    val violations = Catalog.all.flatMap(q =>
      q.sql.toSeq.flatMap(Verify.lintOracleSql(q.name, _)))
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("the oracle lint reds on the r8 q121 SQL and greens on the fix") {
    // verbatim shape of the r8 q121 windowed sum that hash-mismatched
    val r8 =
      """packed AS (SELECT doc_id, n_tok,
        |    SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
        |  FROM samp)
        |SELECT doc_id, n_tok, cum_tok,
        |       (greatest(cum_tok, 1) - 1) // 512 AS shard
        |FROM packed""".stripMargin
    val errs = Verify.lintOracleSql("q121", r8)
    assert(errs.nonEmpty)
    assert(errs.head.contains("q121"))
    assert(errs.head.contains("HUGEINT"))

    val fixed =
      """packed AS (SELECT doc_id, n_tok,
        |    CAST(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tok FROM samp)
        |SELECT doc_id, cum_tok FROM packed""".stripMargin
    assert(Verify.lintOracleSql("q121", fixed).isEmpty)

    // non-windowed SUM is out of scope (plain aggregates are covered by
    // the existing per-entry hash gates); parens inside literals are masked
    assert(Verify.lintOracleSql("q",
      "SELECT sum(x) FROM t WHERE s <> '(over(' GROUP BY k").isEmpty)
    // a broadcast(SUM(...) OVER ...) wrapper that is not CAST still reds
    assert(Verify.lintOracleSql("q",
      "SELECT abs(SUM(x) OVER (ORDER BY id)) FROM t").nonEmpty)
  }

  test("the oracle lint checks the CAST's target type (ADVICE r9)") {
    def lint(sql: String) = Verify.lintOracleSql("q", sql)
    // presence of CAST is not enough: HUGEINT target re-opens the class
    val hugeint =
      "SELECT CAST(SUM(x) OVER (ORDER BY id) AS HUGEINT) AS c FROM t"
    assert(lint(hugeint).exists(_.contains("HUGEINT")))
    // DOUBLE over a plain integer sum is red (convention: BIGINT)
    assert(lint(
      "SELECT CAST(SUM(x) OVER (ORDER BY id) AS DOUBLE) AS c FROM t").nonEmpty)
    // DOUBLE over an explicitly non-integer argument is the q17 shape: green
    assert(lint(
      """SELECT CAST(SUM(CAST(p AS DECIMAL(18,2)))
        |  OVER (PARTITION BY k ORDER BY id) AS DOUBLE) AS c FROM t"""
        .stripMargin).isEmpty)
    // BIGINT / INT8 / LONG all hash like Spark's int64: green
    for (ty <- Seq("BIGINT", "INT8", "LONG", "bigint"))
      assert(lint(
        s"SELECT CAST(SUM(x) OVER (ORDER BY id) AS $ty) AS c FROM t").isEmpty,
        ty)
    // a parameterized or missing target type is red
    assert(lint(
      "SELECT CAST(SUM(x) OVER (ORDER BY id) AS DECIMAL(18,2)) AS c FROM t")
      .nonEmpty)
  }

  test("the DOUBLE allowance requires the cast to be the argument's " +
      "outermost node (ADVICE r10)") {
    def lint(sql: String) = Verify.lintOracleSql("q", sql)
    // an inner cast buried in a CASE still sums integers → HUGEINT → red
    assert(lint(
      """SELECT CAST(SUM(CASE WHEN CAST(f AS DOUBLE) > 0 THEN n END)
        |  OVER (ORDER BY id) AS DOUBLE) AS c FROM t""".stripMargin).nonEmpty)
    // likewise a cast that is only a factor of the argument
    assert(lint(
      """SELECT CAST(SUM(CAST(p AS DECIMAL(18,2)) + n)
        |  OVER (ORDER BY id) AS DOUBLE) AS c FROM t""".stripMargin).nonEmpty)
    // the q17 shape — outermost CAST spanning the whole argument — greens
    assert(lint(
      """SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |  OVER (ORDER BY o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS DOUBLE) AS running_total FROM orders""".stripMargin).isEmpty)
  }
}
