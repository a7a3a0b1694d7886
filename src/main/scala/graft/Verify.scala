package graft
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Output-schema lint: the driver's pandas canonicalizer sorts rows by
    * every column, which dies on nested values (`unhashable type:
    * numpy.ndarray` — the r6 q95 failure). Catalog outputs must therefore
    * be scalar-only; array results use the q15/q95 concat_ws convention.
    * Failing here names the entry at build time instead of erring a
    * driver-gate row. */
  def assertScalarSchema(name: String, schema: StructType): Unit = {
    val nested = schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
                f.dataType.isInstanceOf[MapType] ||
                f.dataType.isInstanceOf[StructType] ||
                f.dataType == BinaryType =>
        s"${f.name}: ${f.dataType.simpleString}"
    }
    require(nested.isEmpty,
      s"catalog entry '$name' emits non-scalar column(s) the driver " +
        s"harness cannot canonicalize — ${nested.mkString(", ")}; " +
        "stringify (concat_ws/base64) before returning")
  }

  /** Oracle-SQL typing lint (the HUGEINT-promotion class): DuckDB promotes
    * integer `SUM` to HUGEINT (int128); the driver's canonicalizer hashes
    * int128 differently from Spark's int64 even when every value is equal —
    * the r8 q121 gate red (and the r2 q17 one before it). The repo
    * convention is therefore that every windowed `SUM(...) OVER (...)` in
    * an oracle string is IMMEDIATELY wrapped in `CAST( ... AS BIGINT)`
    * (casting a later alias reference is easy to miss when a derived
    * column — q121's `shard` — leaks the uncast value). The CAST's target
    * type is checked too (ADVICE r9: `AS HUGEINT` would pass a
    * presence-only lint while still hash-mismatching): BIGINT/INT8/LONG
    * always pass; DOUBLE passes only when the SUM's argument is itself
    * explicitly non-integer (contains a cast to DOUBLE/DECIMAL/FLOAT/REAL
    * — q17's `SUM(CAST(... AS DECIMAL(18,2)))` shape, where DuckDB's
    * result is DECIMAL, not HUGEINT, and the Spark side is double);
    * anything else is red. Returns one message per violation; empty =
    * clean. Single-quoted literals are masked first so parens inside
    * strings can't break the scan. */
  def lintOracleSql(name: String, sql: String): Seq[String] = {
    // mask '...' literals (DuckDB doubles quotes to escape: '' stays inside)
    val masked = {
      val b = sql.toCharArray
      var i = 0
      while (i < b.length) {
        if (b(i) == '\'') {
          b(i) = ' '; i += 1
          while (i < b.length && b(i) != '\'') { b(i) = ' '; i += 1 }
          if (i < b.length) { b(i) = ' '; i += 1 }
        } else i += 1
      }
      new String(b)
    }
    def matchParen(open: Int): Int = {
      var depth = 0
      var i = open
      while (i < masked.length) {
        if (masked(i) == '(') depth += 1
        else if (masked(i) == ')') { depth -= 1; if (depth == 0) return i }
        i += 1
      }
      -1
    }
    val sumRe = "(?i)\\bsum\\s*\\(".r
    sumRe.findAllMatchIn(masked).toSeq.flatMap { m =>
      val open = masked.indexOf('(', m.start)
      val close = matchParen(open)
      var i = close + 1
      while (i < masked.length && masked(i).isWhitespace) i += 1
      val windowed = close > 0 && masked.regionMatches(true, i, "over", 0, 4) &&
        (i + 4 >= masked.length || !Character.isLetterOrDigit(masked(i + 4)))
      if (!windowed) None
      else {
        // require the char before SUM (ws-skipped) to be a '(' opened by CAST
        var j = m.start - 1
        while (j >= 0 && masked(j).isWhitespace) j -= 1
        val castWrapped = j >= 0 && masked(j) == '(' && {
          var k = j - 1
          while (k >= 0 && masked(k).isWhitespace) k -= 1
          k >= 3 && masked.regionMatches(true, k - 3, "cast", 0, 4) &&
            (k - 4 < 0 || !Character.isLetterOrDigit(masked(k - 4)))
        }
        if (!castWrapped)
          Some(s"catalog entry '$name': windowed SUM at offset " +
            s"${m.start} is not CAST-wrapped — DuckDB promotes integer SUM " +
            "to HUGEINT and the driver hash-mismatches int128 vs int64; " +
            "write CAST(SUM(...) OVER (...) AS BIGINT)")
        else {
          // the cast target type: last `AS <type>` inside the CAST parens
          val castClose = matchParen(j)
          val inner = if (castClose > j) masked.substring(j + 1, castClose)
                      else ""
          val tyRe = "(?i)\\bAS\\s+([A-Za-z0-9_]+(\\s+PRECISION)?)\\s*$".r
          val ty = tyRe.findFirstMatchIn(inner.stripTrailing())
            .map(_.group(1).toUpperCase.replaceAll("\\s+", " ")).getOrElse("")
          // SUM's own argument: DuckDB's SUM result is DECIMAL/DOUBLE
          // (not HUGEINT) only when the argument's OUTERMOST node is a
          // cast to a non-integer type — an inner cast buried in a CASE
          // (e.g. SUM(CASE WHEN CAST(f AS DOUBLE) > 0 THEN n END) over
          // integer n) still sums integers and still promotes to HUGEINT
          // (ADVICE r10: a substring scan greened exactly that shape)
          val sumArg = masked.substring(open + 1, close).trim
          val nonIntArg = "(?i)^cast\\s*\\(".r.findFirstMatchIn(sumArg)
            .exists { cm =>
              val co = sumArg.indexOf('(', cm.start)
              var depth = 0; var i2 = co; var cc = -1
              while (i2 < sumArg.length && cc < 0) {
                if (sumArg(i2) == '(') depth += 1
                else if (sumArg(i2) == ')') {
                  depth -= 1; if (depth == 0) cc = i2
                }
                i2 += 1
              }
              // the CAST's parens must span the whole argument, and its
              // target (the trailing `AS <type>[(p[,s])]`) must be non-int
              cc == sumArg.length - 1 && {
                val innerCast = sumArg.substring(co + 1, cc)
                ("(?i)\\bAS\\s+(DOUBLE(\\s+PRECISION)?|DECIMAL|NUMERIC|" +
                  "FLOAT|REAL)\\s*" +
                  "(\\(\\s*\\d+\\s*(,\\s*\\d+\\s*)?\\))?\\s*$").r
                  .findFirstIn(innerCast).isDefined
              }
            }
          // Deliberately NARROW: other genuinely non-integer shapes
          // (SUM(x * 1.0), a parenthesized outer cast, a float column with
          // no cast at all) are rejected too — the lint fails LOUD at
          // authoring time with a clear message, never green-lights a
          // HUGEINT promotion; rewriting the oracle into the recognized
          // shape is the cheap side of that trade.
          val ok = Set("BIGINT", "INT8", "LONG").contains(ty) ||
            ((ty == "DOUBLE" || ty == "DOUBLE PRECISION") && nonIntArg)
          if (ok) None
          else Some(s"catalog entry '$name': windowed SUM at offset " +
            s"${m.start} is CAST to '$ty' — only BIGINT/INT8/LONG hash " +
            "like Spark's int64 (DOUBLE is allowed only over an " +
            "explicitly non-integer SUM argument); HUGEINT or a missing " +
            "type re-opens the int128 hash-mismatch class")
        }
      }
    }
  }
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated entry tokens (Catalog.select) —
    // a targeted local re-check without paying the full catalog (the
    // driver passes two)
    val (sfDir, outDir) = (args(0), args(1))
    val entries =
      args.lift(2).fold(Catalog.all)(c => Catalog.select(c.split(",")))
    val spark = GraftSession.local(GraftSession.cpus)
    // write micros (not INT96) so the driver-side reader sees plain int64
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    entries.foreach { q =>
      // repartition(1): single output file for the driver, but behind a
      // shuffle so the query itself keeps its parallelism (coalesce(1)
      // would collapse the whole upstream plan to one task)
      try {
        val df = q.fn(spark, sfDir)
        assertScalarSchema(q.name, df.schema)
        df.repartition(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      GraftSession.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // typing lint mirrors the sbt-test gate: surface violations in the
    // verify log too (non-fatal here — the spec is the build-time gate)
    SparkEntry.oracleSql.foreach { case (k, v) =>
      lintOracleSql(k, v).foreach(msg => System.err.println(s"[verify] $msg"))
    }
    val json = entries.flatMap(e => e.sql.map(v => s"${q(e.name)}: ${q(v)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
