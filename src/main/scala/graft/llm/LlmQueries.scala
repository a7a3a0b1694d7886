package graft.llm

import graft.{Q, T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline catalog entries over the provisioned `documents`
  * and `embeddings` tables: dedup (exact + MinHash-LSH), text analysis,
  * SimHash, ANN (query-batch top-k + LSH threshold join), multimodal binary
  * plumbing. Every entry has a DuckDB oracle.
  */
object LlmQueries {

  private def q(name: String, sql: String, bench: Boolean = true)(
      fn: (SparkSession, String) => DataFrame): Q = Q(name, Some(sql), bench)(fn)

  /** A MAINTENANCE entry: a store build/fold/compact cycle rather than a
    * query — benched in the separate tail phase (see [[graft.Q]].maint). */
  private def qm(name: String, sql: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, Some(sql), bench = true, maint = true)(fn)

  /** Once-per-dataset-per-JVM persisted IVF index (seed centroids, so the
    * DuckDB oracle rebuilds it identically). First use in a JVM always
    * rebuilds, so a stale on-disk index from an earlier run can't leak in. */
  private val ivfIndexes = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ivfIndexFor(dir: String, emb: DataFrame): String =
    ivfIndexes.getOrElseUpdate(dir, {
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivf-" + dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      AnnOps.buildIvfIndex(emb, path, dim = 64, nCentroids = 16,
        centroids = Some(AnnOps.seedCentroids(emb, 16, 64)),
        // inline payload for the FILTERED probe path (q158); columnar
        // parquet means unfiltered probes never read the extra column
        payloadCols = Seq("label"))
      path
    })

  /** Once-per-dataset-per-JVM persisted inverted text index (TextIndex).
    * Same contract as [[ivfIndexFor]]: first use in a JVM rebuilds. */
  private val textIndexes = scala.collection.concurrent.TrieMap.empty[String, String]
  private def textIndexFor(dir: String, docs: DataFrame): String =
    textIndexes.getOrElseUpdate(dir, {
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-textidx-" + dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      TextIndex.buildIndex(docs, "doc_id", "text", path, nBuckets = 64)
      path
    })

  /** Once-per-dataset-per-JVM persisted DETERMINISTIC IVF-PQ index
    * (AnnOps.buildIvfPqIndexDeterministic — seed cells, zero means, hash
    * codebooks, so the DuckDB oracle rebuilds it identically). Same
    * contract as [[ivfIndexFor]]: first use in a JVM rebuilds. */
  private val ivfPqIndexes = scala.collection.concurrent.TrieMap.empty[String, String]
  private def ivfPqIndexFor(dir: String, emb: DataFrame): String =
    ivfPqIndexes.getOrElseUpdate(dir, {
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-ivfpq-" + dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      AnnOps.buildIvfPqIndexDeterministic(emb, path, dim = 64,
        nCentroids = 16, m = 8, kCodes = 16,
        // inline payload for the FILTERED compressed probe (q159);
        // columnar parquet means unfiltered probes never read it
        payloadCols = Seq("label"))
      path
    })

  /** Once-per-dataset-per-JVM persisted shingle-postings index
    * (ShingleIndex) for the containment family. Same contract as
    * [[ivfIndexFor]]: first use in a JVM rebuilds. */
  private val shingleIndexes = scala.collection.concurrent.TrieMap.empty[String, String]
  private def shingleIndexFor(dir: String, docs: DataFrame): String =
    shingleIndexes.getOrElseUpdate(dir, {
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-shidx-" + dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      ShingleIndex.build(docs, "doc_id", "text", path, n = 3, nBuckets = 64)
      path
    })

  /** Doc-similarity graph shared by q115/q125: unique edges between docs
    * with ≥2 shared RARE 3-shingles (df ≤ 50 — the stop-shingle cap that
    * keeps hot-shingle fan-out df-bounded). The postings materialize once:
    * the shingle explode is an interpreted higher-order function feeding
    * multiple consumers — recomputing it per consumer measured 6 s at
    * sf0.1. */
  private def docSimilarityEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val post = T.documents(s, dir).select(col("doc_id"),
      explode(TextOps.wordShingles(col("text"), 3)).as("s"))
      .localCheckpoint()
    val rare = post.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("s")
    val p = post.join(rare, "s").localCheckpoint()
    p.select(col("doc_id").as("a"), col("s"))
      .join(p.select(col("doc_id").as("b"), col("s").as("s2")),
        col("s") === col("s2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("a", "b")
  }

  /** Once-per-(JVM, dir) MATERIALIZED similarity graph — the same
    * build-once-serve-many contract as the persisted IVF/text indexes
    * (ivfIndexFor/textIndexFor): the near-dup graph is a pipeline
    * artifact consumed by several downstream analytics (triangles q115,
    * k-core q125, CC), so the candidate-join build cost is paid once per
    * corpus and each consumer reads an edge-list parquet. */
  private val simGraphs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def simGraphFor(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val path = simGraphs.getOrElseUpdate(dir, {
      val p = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-simgraph-" + dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      docSimilarityEdges(s, dir).write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  // DuckDB spelling of TextOps.tokens / wordShingles(3)
  private val sqlToks = "string_split(trim(text), ' ')"
  private val sqlShingles =
    s"list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)])"

  // Oracle spelling of TextOps.simhash (64 md5-derived bit sums)
  private def simhashOracle: String = {
    val sums = (0 until 64).map { b =>
      val k = b / 4 + 1
      val div = 1 << (3 - (b % 4))
      s"SUM(2 * ((CAST(strpos('0123456789abcdef', substr(md5(t), $k, 1)) - 1 AS INT) // $div) % 2) - 1) AS s$b"
    }
    val bits = (0 until 64).map(b => s"(CASE WHEN s$b >= 0 THEN '1' ELSE '0' END)")
    s"""SELECT doc_id, ${bits.mkString(" || ")} AS simhash FROM (
       |  SELECT doc_id, ${sums.mkString(", ")}
       |  FROM (SELECT doc_id, unnest(list_distinct($sqlToks)) AS t FROM documents)
       |  GROUP BY doc_id)
       |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  // Oracle spelling of AnnOps.lshThresholdPairs band keys. Plane component
  // for flat index m = first 8 md5 hex digits of m's decimal string as a
  // uint32, mapped to [-1, 1) — AnnOps.hyperplane's exact arithmetic
  // (integer-exact in both engines; see its scaladoc for why not sin(m)).
  private def lshBandKeySql(emb: String, j: Int, bitsPerBand: Int, dim: Int): String =
    (0 until bitsPerBand).map { r =>
      val i = j * bitsPerBand + r
      val lo = i * dim + 1
      val comp = "(list_sum([(strpos('0123456789abcdef', " +
        "substr(md5(CAST(m AS VARCHAR)), d, 1)) - 1) * power(16.0, 8 - d) " +
        "for d in range(1, 9)]) / 2147483648.0 - 1)"
      s"(CASE WHEN list_dot_product(CAST($emb AS DOUBLE[]), [$comp for m in range($lo, ${lo + dim})]) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  // q108's frozen tokenizer: the first 16 merges Bpe.train learns on the
  // sf0.01 documents corpus (deterministic: count desc, pair lex asc) —
  // frozen here the way production tokenizers are frozen artifacts.
  private val frozenBpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "e" -> "</w>", "n" -> "</w>", "er" -> "</w>",
    "o" -> "w", "ow" -> "</w>", "o" -> "r", "s" -> "t",
    "h" -> "</w>", "a" -> "t", "l" -> "u", "i" -> "n",
    "a" -> "</w>", "g" -> "</w>", "y" -> "</w>", "a" -> "r")

  // Oracle spelling of q108: the identical wrapped-symbol replace chain,
  // built from the same frozen merge table.
  private def bpeOracle(merges: Seq[(String, String)]): String = {
    def wrapSql(sym: String) = s"chr(1) || '${sym.replace("'", "''")}' || chr(2)"
    // chr(1)/chr(2) are the seam delimiters — strip them from the input
    // BEFORE word splitting (mirrors Bpe.wrapText) so adversarial text
    // can't corrupt the replace chain or the delimiter-counting count.
    val cleanText = "replace(replace(text, chr(1), ''), chr(2), '')"
    val wrapped = "array_to_string([array_to_string([chr(1) || c || chr(2) " +
      "for c in string_split(w, '')], '') || chr(1) || '</w>' || chr(2) " +
      s"for w in list_filter(string_split(trim($cleanText), ' '), w -> w <> '')], '')"
    val chained = merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      s"replace($acc, ${wrapSql(a)} || ${wrapSql(b)}, ${wrapSql(a + b)})"
    }
    s"""SELECT doc_id,
       |  CAST(length(s) - length(replace(s, chr(1), '')) AS BIGINT) AS n_bpe
       |FROM (SELECT doc_id, $chained AS s FROM documents)
       |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  // Oracle pieces of q146's fixed-point Lloyd quantizer: one assignment
  // CTE (argmax of exact-integer dot over the center norm, ties to the
  // lowest center) and one update CTE (per-cell integer coordinate sums;
  // empty cells keep the previous center) — chained once per round.
  private def fpAssignSql(centsCte: String, out: String): String =
    s"""$out AS (SELECT vec_id, j FROM (
       |    SELECT u.vec_id, c.j,
       |      row_number() OVER (PARTITION BY u.vec_id ORDER BY
       |        CAST(list_sum([u.qv[i + 1] * c.s[i + 1]
       |            for i in range(0, 64)]) AS DOUBLE)
       |          / sqrt(list_sum([CAST(c.s[i + 1] AS DOUBLE)
       |            * CAST(c.s[i + 1] AS DOUBLE)
       |            for i in range(0, 64)])) DESC,
       |        c.j) AS r
       |    FROM uq u, $centsCte c) WHERE r = 1)""".stripMargin
  private def fpUpdateSql(asgCte: String, prevC: String,
      out: String): String =
    s"""$out AS (
       |  SELECT $prevC.j, coalesce(n.s, $prevC.s) AS s
       |  FROM $prevC LEFT JOIN (
       |    SELECT j, list(sv ORDER BY i) AS s FROM (
       |      SELECT $asgCte.j, t.i, CAST(sum(u.qv[t.i + 1]) AS BIGINT) AS sv
       |      FROM $asgCte JOIN uq u USING (vec_id)
       |      CROSS JOIN range(0, 64) t(i)
       |      GROUP BY $asgCte.j, t.i) GROUP BY j) n USING (j))""".stripMargin

  // Oracle spelling of q107: hash PQ codebooks (AnnOps.md5Comp's integer
  // arithmetic, "pq:" namespace), nearest-code encoding with the (d², c)
  // tie-break as a window, ADC distance tables for the query batch, and
  // the per-query top-3 ranking — the identical algorithm, independently.
  private def pqAdcOracle(m: Int, k: Int, dim: Int): String = {
    val sd = dim / m
    def comp(flat: String) =
      "(list_sum([(strpos('0123456789abcdef', " +
        s"substr(md5('pq:' || CAST($flat AS VARCHAR)), d, 1)) - 1) * power(16.0, 8 - d) " +
        "for d in range(1, 9)]) / 2147483648.0 - 1)"
    def d2(vec: String) =
      s"list_sum([($vec[j*$sd + t + 1] - cv[t + 1]) * ($vec[j*$sd + t + 1] - cv[t + 1]) " +
        s"for t in range(0, $sd)])"
    s"""WITH cb AS (
       |  SELECT j, c, [${comp(s"(j*$k + c)*$sd + t + 1")} for t in range(0, $sd)] AS cv
       |  FROM range(0, $m) tj(j), range(0, $k) tc(c)),
       |sub AS (
       |  SELECT vec_id, j, CAST(embedding AS DOUBLE[]) AS e
       |  FROM embeddings, range(0, $m) tj(j)),
       |enc AS (
       |  SELECT vec_id, j, c AS code FROM (
       |    SELECT vec_id, j, c, row_number() OVER (
       |        PARTITION BY vec_id, j ORDER BY d2v, c) AS rn
       |    FROM (SELECT vec_id, j, c, ${d2("e")} AS d2v
       |          FROM sub JOIN cb USING (j)))
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
       |      FROM embeddings WHERE vec_id < 20),
       |qtab AS (
       |  SELECT qid, j, c, ${d2("qe")} AS d2
       |  FROM q, cb),
       |scored AS (
       |  SELECT qid, e.vec_id AS nid, list_sum(list(d2 ORDER BY qtab.j)) AS dist
       |  FROM enc e JOIN qtab ON e.j = qtab.j AND e.code = qtab.c
       |  WHERE qid <> e.vec_id
       |  GROUP BY qid, e.vec_id)
       |SELECT qid, rk, nid FROM (
       |  SELECT qid, nid,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS BIGINT) AS rk
       |  FROM scored)
       |WHERE rk <= 3
       |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin
  }

  private def annLshOracle(numBands: Int, bitsPerBand: Int, dim: Int,
      threshold: Double): String = {
    val keys = (0 until numBands)
      .map(j => s"${lshBandKeySql("embedding", j, bitsPerBand, dim)} AS b$j")
    val anyBand = (0 until numBands).map(j => s"a.b$j = b.b$j").mkString(" OR ")
    s"""WITH s AS (SELECT vec_id AS id, embedding AS emb, ${keys.mkString(", ")} FROM embeddings)
       |SELECT a.id AS ida, b.id AS idb FROM s a, s b
       |WHERE a.id < b.id AND ($anyBand)
       |  AND list_cosine_similarity(CAST(a.emb AS DOUBLE[]), CAST(b.emb AS DOUBLE[])) >= $threshold
       |ORDER BY ida NULLS FIRST, idb NULLS FIRST""".stripMargin
  }

  // Oracle spelling of q86: the q50 LSH-threshold pair set, closed
  // transitively with a recursive CTE (same shape as q60's oracle).
  private def annClusterOracle(numBands: Int, bitsPerBand: Int, dim: Int,
      threshold: Double): String = {
    val keys = (0 until numBands)
      .map(j => s"${lshBandKeySql("embedding", j, bitsPerBand, dim)} AS b$j")
    val anyBand = (0 until numBands).map(j => s"a.b$j = b.b$j").mkString(" OR ")
    s"""WITH RECURSIVE s AS (
       |  SELECT vec_id AS id, embedding AS emb, ${keys.mkString(", ")}
       |  FROM embeddings),
       |pr AS (
       |  SELECT a.id AS ida, b.id AS idb FROM s a, s b
       |  WHERE a.id < b.id AND ($anyBand)
       |    AND list_cosine_similarity(CAST(a.emb AS DOUBLE[]),
       |                               CAST(b.emb AS DOUBLE[])) >= $threshold),
       |edges AS (SELECT ida AS a, idb AS b FROM pr
       |          UNION SELECT idb AS a, ida AS b FROM pr),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |)
       |SELECT a AS vec_id, least(a, MIN(b)) AS cluster FROM reach
       |GROUP BY a ORDER BY vec_id NULLS FIRST""".stripMargin
  }

  // Oracle spelling of AnnOps.ivfTopKForQueries: same deterministic seed
  // centroids, same argmax-cosine cell assignment (ties to lowest cid),
  // same nProbe cell pruning, same exact top-k within probed cells.
  // `pred` (on alias `a`, the assigned corpus vector) is the FILTERED
  // variant's candidate predicate — empty for the unfiltered entries.
  private def annIvfOracle(nCentroids: Int, nProbe: Int, k: Int,
      pred: String = ""): String =
    s"""WITH cent AS (
       |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
       |  ORDER BY vec_id LIMIT $nCentroids),
       |asg AS (
       |  SELECT nid, ne, label, cid FROM (
       |    SELECT e.vec_id AS nid, e.embedding AS ne, e.label, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                                        CAST(c.ce AS DOUBLE[])) DESC,
       |                 c.cid) AS r
       |    FROM embeddings e, cent c) WHERE r = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
       |probe AS (
       |  SELECT qid, cid FROM (
       |    SELECT q.qid, c.cid,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
       |                                        CAST(c.ce AS DOUBLE[])) DESC,
       |                 c.cid) AS r
       |    FROM q, cent c) WHERE r <= $nProbe),
       |p AS (
       |  SELECT pr.qid, a.nid,
       |    list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(a.ne AS DOUBLE[])) AS cos
       |  FROM probe pr JOIN asg a USING (cid) JOIN q USING (qid)
       |  WHERE a.nid != pr.qid${if (pred.isEmpty) "" else s" AND $pred"}),
       |r AS (SELECT qid, nid,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
       |      FROM p)
       |SELECT qid, rk, nid FROM r WHERE rk <= $k
       |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin


  /** Shared oracle of q144/q147 — the from-scratch nightly pipeline over
    * history ∪ admitted (see the q144 comment). */
  /** Three SEQUENTIAL admission nights in one query (q157): night i's
    * lake is history ∪ every earlier night's admitted set — the exact
    * composition runContinuous's per-micro-batch stage+fold executes
    * when the slice schedule is fixed. Each night unrolls the q144
    * admission CTEs (quality → exact-dup vs the CURRENT lake →
    * containment vs the CURRENT lake). */
  private val continuousNightOracle: String = {
    def night(i: Int): String = {
      val bat = s"(SELECT doc_id FROM documents WHERE doc_id % 9 = ${3 * (i - 1)})"
      s"""q$i AS (
         |  SELECT t.doc_id FROM tok t JOIN $bat b USING (doc_id)
         |  WHERE len(t.toks) >= 8
         |    AND len(list_distinct(t.toks)) >= 0.3 * len(t.toks)),
         |dup$i AS (
         |  SELECT fb.doc_id FROM fp fb JOIN q$i USING (doc_id)
         |  WHERE EXISTS (SELECT 1 FROM fp fh JOIN lake$i USING (doc_id)
         |                WHERE fh.fp = fb.fp)),
         |fresh$i AS (SELECT doc_id FROM q$i
         |            WHERE doc_id NOT IN (SELECT doc_id FROM dup$i)),
         |cont$i AS (
         |  SELECT DISTINCT qa.doc_id
         |  FROM (SELECT s.doc_id, s.shingles FROM sh s
         |        JOIN fresh$i USING (doc_id)) qa,
         |       (SELECT s.doc_id, s.shingles FROM sh s
         |        JOIN lake$i USING (doc_id)) hb
         |  WHERE len(qa.shingles) > 0 AND len(hb.shingles) > 0
         |    AND qa.doc_id != hb.doc_id
         |    AND CAST(len(list_intersect(qa.shingles, hb.shingles)) AS DOUBLE)
         |        >= 0.8 * len(qa.shingles)),
         |adm$i AS (SELECT doc_id FROM fresh$i
         |          WHERE doc_id NOT IN (SELECT doc_id FROM cont$i)),
         |lake${i + 1} AS (SELECT doc_id FROM lake$i
         |                 UNION ALL SELECT doc_id FROM adm$i)""".stripMargin
    }
    s"""WITH tok AS (
       |  SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, $sqlShingles AS shingles
       |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)),
       |fp AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
       |  FROM tok),
       |lake1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 != 0),
       |${night(1)},
       |${night(2)},
       |${night(3)}
       |SELECT doc_id, night FROM (
       |  SELECT doc_id, CAST(1 AS BIGINT) AS night FROM adm1
       |  UNION ALL SELECT doc_id, CAST(2 AS BIGINT) FROM adm2
       |  UNION ALL SELECT doc_id, CAST(3 AS BIGINT) FROM adm3)
       |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  private val nightlyCurationOracle: String =
    s"""WITH tok AS (
         |  SELECT doc_id, $sqlToks AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id, $sqlShingles AS shingles
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)),
         |fp AS (
         |  SELECT doc_id,
         |    md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |  FROM tok),
         |hist AS (SELECT doc_id FROM documents WHERE doc_id % 3 != 0),
         |bat AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
         |q AS (
         |  SELECT t.doc_id, len(t.toks) AS n_tok
         |  FROM tok t JOIN bat USING (doc_id)
         |  WHERE len(t.toks) >= 8
         |    AND len(list_distinct(t.toks)) >= 0.3 * len(t.toks)),
         |dup AS (
         |  SELECT fb.doc_id FROM fp fb JOIN q USING (doc_id)
         |  WHERE EXISTS (SELECT 1 FROM fp fh JOIN hist USING (doc_id)
         |                WHERE fh.fp = fb.fp)),
         |fresh AS (SELECT doc_id, n_tok FROM q
         |          WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
         |cont AS (
         |  SELECT DISTINCT qa.doc_id
         |  FROM (SELECT s.doc_id, s.shingles FROM sh s
         |        JOIN fresh USING (doc_id)) qa,
         |       (SELECT s.doc_id, s.shingles FROM sh s
         |        JOIN hist USING (doc_id)) hb
         |  WHERE len(qa.shingles) > 0 AND len(hb.shingles) > 0
         |    AND qa.doc_id != hb.doc_id
         |    AND CAST(len(list_intersect(qa.shingles, hb.shingles)) AS DOUBLE)
         |        >= 0.8 * len(qa.shingles)),
         |adm AS (SELECT doc_id, n_tok FROM fresh
         |        WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         |uni AS (SELECT doc_id FROM hist
         |        UNION ALL SELECT doc_id FROM adm),
         |p_admit AS (
         |  SELECT 'admit' AS part, doc_id AS a, CAST(0 AS BIGINT) AS b,
         |    CAST(n_tok AS DOUBLE) AS v FROM adm),
         |p_bloom AS (
         |  SELECT 'bloom' AS part, fb.doc_id AS a, CAST(0 AS BIGINT) AS b,
         |    CAST(0 AS DOUBLE) AS v
         |  FROM fp fb JOIN bat USING (doc_id)
         |  WHERE EXISTS (SELECT 1 FROM fp fu JOIN uni USING (doc_id)
         |                WHERE fu.fp = fb.fp)),
         |p_shingle AS (
         |  SELECT 'shingle' AS part, pa.doc_id AS a, hb.doc_id AS b,
         |    CAST(len(list_intersect(pa.shingles, hb.shingles)) AS DOUBLE)
         |      / len(pa.shingles) AS v
         |  FROM (SELECT s.doc_id, s.shingles FROM sh s
         |        WHERE s.doc_id % 15 = 1) pa,
         |       (SELECT s.doc_id, s.shingles FROM sh s
         |        JOIN uni USING (doc_id)) hb
         |  WHERE pa.doc_id != hb.doc_id
         |    AND len(pa.shingles) > 0 AND len(hb.shingles) > 0
         |    AND CAST(len(list_intersect(pa.shingles, hb.shingles)) AS DOUBLE)
         |        >= 0.8 * len(pa.shingles)),
         |td AS (SELECT t.doc_id, t.toks, len(t.toks) AS dl
         |       FROM tok t JOIN uni USING (doc_id)),
         |tc AS (SELECT count(*) AS n_docs,
         |         CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM td),
         |tt AS (SELECT unnest(['sort', 'stream', 'hash']) AS term),
         |tm AS (SELECT doc_id, dl, term,
         |         len(list_filter(toks, x -> x = term)) AS tf
         |       FROM td CROSS JOIN tt),
         |tmm AS (SELECT * FROM tm WHERE tf > 0),
         |tdf AS (SELECT term, count(*) AS dfc FROM tmm GROUP BY term),
         |tsc AS (SELECT term, doc_id,
         |          round(ln((n_docs - dfc + 0.5) / (dfc + 0.5) + 1.0)
         |            * (tf * (1.2 + 1.0))
         |            / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6)
         |            AS score
         |        FROM tmm JOIN tdf USING (term), tc),
         |trk AS (SELECT term, doc_id, score,
         |          ROW_NUMBER() OVER (PARTITION BY term
         |            ORDER BY score DESC, doc_id) AS rank FROM tsc),
         |p_text AS (
         |  SELECT 'text:' || term AS part, CAST(rank AS BIGINT) AS a,
         |    doc_id AS b, score AS v FROM trk WHERE rank <= 10),
         |cent AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id % 3 != 0 ORDER BY vec_id LIMIT 16),
         |uemb AS (
         |  SELECT e.vec_id, e.embedding FROM embeddings e
         |  WHERE e.vec_id % 3 != 0
         |     OR e.vec_id IN (SELECT doc_id FROM adm)),
         |asg AS (
         |  SELECT nid, ne, cid FROM (
         |    SELECT e.vec_id AS nid, e.embedding AS ne, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                                        CAST(c.ce AS DOUBLE[])) DESC,
         |                 c.cid) AS r
         |    FROM uemb e, cent c) WHERE r = 1),
         |qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |       WHERE vec_id < 10),
         |probe AS (
         |  SELECT qid, cid FROM (
         |    SELECT qv.qid, c.cid,
         |      row_number() OVER (PARTITION BY qv.qid
         |        ORDER BY list_cosine_similarity(CAST(qv.qe AS DOUBLE[]),
         |                                        CAST(c.ce AS DOUBLE[])) DESC,
         |                 c.cid) AS r
         |    FROM qv, cent c) WHERE r <= 2),
         |pd AS (
         |  SELECT pr.qid, a.nid,
         |    list_cosine_similarity(CAST(qv.qe AS DOUBLE[]),
         |                           CAST(a.ne AS DOUBLE[])) AS cos
         |  FROM probe pr JOIN asg a USING (cid) JOIN qv USING (qid)
         |  WHERE a.nid != pr.qid),
         |p_ivf AS (
         |  SELECT 'ivf' AS part, qid AS a, nid AS b, CAST(rk AS DOUBLE) AS v
         |  FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid
         |          ORDER BY cos DESC, nid) AS rk FROM pd)
         |  WHERE rk <= 10),
         |gsh AS (SELECT s.doc_id, unnest(s.shingles) AS g
         |        FROM sh s JOIN uni USING (doc_id)),
         |grare AS (SELECT g FROM gsh GROUP BY g HAVING count(*) <= 50),
         |gp AS (SELECT doc_id, g FROM gsh JOIN grare USING (g)),
         |p_graph AS (
         |  SELECT 'graph' AS part, x.doc_id AS a, y.doc_id AS b,
         |    CAST(0 AS DOUBLE) AS v
         |  FROM gp x JOIN gp y ON x.g = y.g AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
         |SELECT part, a, b, v FROM (
         |  SELECT * FROM p_admit UNION ALL SELECT * FROM p_bloom
         |  UNION ALL SELECT * FROM p_shingle UNION ALL SELECT * FROM p_text
         |  UNION ALL SELECT * FROM p_ivf UNION ALL SELECT * FROM p_graph)
         |ORDER BY part NULLS FIRST, a NULLS FIRST, b NULLS FIRST,
         |  v NULLS FIRST""".stripMargin

  /** Shared body of q144/q147: bootstrap the five stores, run the
    * admission night, append, optionally run a FORCED maintenance slot
    * (q147 — every dial tripped; serves must be unchanged), then serve
    * from every store into one tagged frame. */
  /** One bootstrapped five-store fixture per (JVM, sf dir), shared by
    * every nightly-cycle entry (q144/q147/q152/q157 — same lake, same
    * initStores arguments): the first entry builds it, the rest COPY it
    * to their own mutable root (VERDICT r13 #7 — 3 bench passes × 4
    * entries used to pay 12 identical lake-sized bootstraps; now one
    * build per bench/verify run, and per-entry numbers price the night +
    * serves + a directory copy, which is the lifecycle-honest split).
    * JVM-scoped (a fresh tmpdir per process), so a code change can never
    * serve a stale fixture to the correctness gate. */
  private object NightlyBootCache {
    private val built = scala.collection.mutable.Map[String, String]()
    def fixtureFor(s: SparkSession, dir: String): String = synchronized {
      built.getOrElseUpdate(dir, {
        val p = java.nio.file.Files
          .createTempDirectory("graft-nightboot").toString + "/stores"
        val docs = T.documents(s, dir)
        val emb = T.embeddings(s, dir)
        NightlyCuration.initStores(s, NightlyCuration.Stores(p),
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
          emb.filter(pmod(col("vec_id"), lit(3)) =!= 0), "doc_id", "text")
        p
      })
    }
    /** Copy the fixture to `root` (deleted first). The Bloom fingerprint
      * sidecar lives at `<root>/bloom__fp`, inside the tree, so one
      * recursive copy moves the whole store state. The tree is thousands
      * of small bucket files (five partitioned stores), so the copy runs
      * file-parallel on a small pool — FileUtil.copy walked it
      * single-threaded and the per-entry copy was pure latency (guide
      * §2.6's overlap idiom applied to driver-side fs work). */
    def copyTo(s: SparkSession, dir: String, root: String): Unit = {
      import org.apache.hadoop.fs.{FileUtil, Path}
      val conf = s.sparkContext.hadoopConfiguration
      val src = new Path(fixtureFor(s, dir))
      val dst = new Path(root)
      val fs = dst.getFileSystem(conf)
      if (fs.exists(dst)) fs.delete(dst, true)
      // collect (srcFile, dstFile) pairs; create dirs up front (cheap)
      val files = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
      def walk(p: Path, d: Path): Unit = {
        val st = fs.getFileStatus(p)
        if (st.isDirectory) {
          fs.mkdirs(d)
          fs.listStatus(p).foreach(c =>
            walk(c.getPath, new Path(d, c.getPath.getName)))
        } else files += ((p, d))
      }
      walk(src, dst)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        val futs = files.map { case (f, t) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = { FileUtil.copy(fs, f, fs, t, false, conf); () }
          })
        }
        try futs.foreach(_.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // stop mutating the destination tree before the caller sees
            // the failure: cancel what hasn't started, wait out what has
            // (shutdown() alone would let copies keep landing behind an
            // already-thrown error)
            futs.foreach(_.cancel(false))
            pool.shutdown()
            val cause = e.getCause
            try {
              if (!pool.awaitTermination(60,
                  java.util.concurrent.TimeUnit.SECONDS))
                cause.addSuppressed(new java.util.concurrent.TimeoutException(
                  s"copies into $dst still running 60 s after the first " +
                    "failure"))
            } catch {
              case ie: InterruptedException =>
                Thread.currentThread().interrupt()
                cause.addSuppressed(ie)
            }
            throw cause
        }
      } finally pool.shutdown()
      s.catalog.refreshByPath(root)
    }
  }

  private def nightlyCurationGate(s: SparkSession, dir: String,
      tag: String, maintain: Boolean, streamed: Boolean = false): DataFrame = {
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-" + tag + "-" + dir.replaceAll("[^A-Za-z0-9]", "_"))
        .getAbsolutePath
      val stores = NightlyCuration.Stores(root)
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val fs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val docs = T.documents(s, dir)
      val emb = T.embeddings(s, dir)
      val history = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      NightlyBootCache.copyTo(s, dir, root)
      val admitted = (if (streamed) {
        // q152: tonight's feed arrives as a STREAM of micro-batches
        // (one file each). Staged admission reads only pre-night store
        // state, so the staged union == the batch cycle's admitted set
        // for any split (StreamingNightlyCuration scaladoc) — which is
        // why this path shares q144's oracle verbatim.
        import org.apache.hadoop.fs.Path
        val src = s"$root/feed"
        def stage(slice: org.apache.spark.sql.DataFrame, name: String): Unit = {
          val tmp = s"$root/feed-stage-$name"
          slice.select(col("doc_id").cast("long").as("doc_id"), col("text"))
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = fs.listStatus(new Path(tmp)).map(_.getPath)
            .find(_.getName.endsWith(".parquet")).get
          fs.mkdirs(new Path(src))
          fs.rename(part, new Path(src, s"$name.parquet"))
          fs.delete(new Path(tmp), true)
        }
        stage(batch.filter(pmod(col("doc_id"), lit(9)) === 0), "b0")
        stage(batch.filter(pmod(col("doc_id"), lit(9)) === 3), "b1")
        // maxFilesPerTrigger=2: drain the currently-available slices in
        // ONE micro-batch (guide §1.2/§2 — fewer fixed-cost micro-batch
        // rounds, and the admission gate's store-probe scans run once
        // per trigger, not once per file). Legitimate ONLY because
        // staged admission is split-invariant: every batch admits
        // against the PRE-NIGHT store state (class scaladoc), so the
        // staged union — and q144's shared oracle — is identical for
        // any file-to-trigger packing. r15 ran one file per trigger;
        // the A/B is in OPTIMIZATION_r16.md.
        graft.streaming.StreamingNightlyCuration.run(s, src, stores,
          s"$root/ck", maxFilesPerTrigger = 2)
        // a later feed slice arrives mid-night and the SAME checkpoint
        // resumes staging (the q143 lifecycle discipline) — the fold
        // below must see all three slices or the oracle mismatches
        stage(batch.filter(pmod(col("doc_id"), lit(9)) === 6), "b2")
        graft.streaming.StreamingNightlyCuration.run(s, src, stores,
          s"$root/ck", maxFilesPerTrigger = 2)
        val staged = graft.streaming.StreamingNightlyCuration
          .stagedAdmitted(s, stores).select("doc_id").localCheckpoint()
        graft.streaming.StreamingNightlyCuration.endOfNight(s, stores,
          emb, nightId = 1L)
        docs.join(staged, Seq("doc_id"), "left_semi")
      } else {
        // checkpoint BEFORE appendAll: the admission plan probes the
        // stores, and the appends mutate them — a lazy re-evaluation
        // after the first append would admit against post-append state
        val adm = NightlyCuration.admit(s, stores, batch,
          "doc_id", "text").localCheckpoint()
        NightlyCuration.appendAll(s, stores, adm,
          emb.join(adm.select(col("doc_id").as("vec_id")), "vec_id"),
          "doc_id", "text")
        adm
      }).localCheckpoint()
      // q147: the FORCED maintenance slot between the appends and the
      // serves — compactions + the Bloom rebuild all trip (tightened
      // dials), and because every action is output-preserving the SAME
      // oracle must still match; any maintenance corruption of any
      // store hash-mismatches
      if (maintain) {
        val actions = NightlyCuration.maintenance(s, stores,
          fpBudget = 0.0,
          maxShingleEpochs = 1, maxGraphDeltas = 1, maxDataFiles = 1)
        require(actions.size >= 6,
          s"q147 expects every dial to trip, got: $actions")
      }
      // serve from every post-append store, tagged into one frame. The
      // six parts read disjoint post-append stores, and three of them do
      // EAGER work while constructing their frame (dedupFromStore's hit
      // materialization + bucket collect, containmentAgainst's signature
      // checkpoint + bucket collect, ivfTopKFromIndex's centroid/probe
      // collects) — construct them CONCURRENTLY (guide §2.6) so those
      // driver-sequenced jobs overlap; the union plan itself is lazy and
      // unchanged.
      val parts = graft.sources.ParJobs.map[DataFrame](Seq(
        () => admitted.select(lit("admit").as("part"),
          col("doc_id").as("a"), lit(0L).as("b"),
          size(TextOps.tokens(col("text"))).cast(DoubleType).as("v")),
        // the store's sidecar IS history ∪ admitted after the fold — the
        // serve needs no corpus frame
        () => BloomHistory.dedupFromStore(s, stores.bloom,
            batch, "doc_id", "text")
          .select(lit("bloom").as("part"), col("doc_id").as("a"),
            lit(0L).as("b"), lit(0.0).as("v")),
        () => ShingleIndex.containmentAgainst(s, stores.shingle,
            docs.filter(pmod(col("doc_id"), lit(15)) === 1), "doc_id",
            "text", 0.8)
          .select(lit("shingle").as("part"), col("ida").as("a"),
            col("idb").as("b"), col("containment").as("v")),
        () => TextIndex.bm25FromIndex(s, stores.text,
            terms = Seq("sort", "stream", "hash"), k1 = 1.2, b = 0.75,
            topK = 10)
          .select(concat(lit("text:"), col("term")).as("part"),
            col("rank").cast(LongType).as("a"), col("doc_id").as("b"),
            col("score").as("v")),
        () => AnnOps.ivfTopKFromIndex(s, stores.ivf,
            emb.filter(col("vec_id") < 10), k = 10, dim = 64, nProbe = 2)
          .select(lit("ivf").as("part"), col("qid").as("a"),
            col("nid").as("b"), col("rk").cast(DoubleType).as("v")),
        () => SimGraphStore.edges(s, stores.graph)
          .select(lit("graph").as("part"), col("a"), col("b"),
            lit(0.0).as("v"))))
      parts.reduce(_.unionByName(_))
        .orderBy("part", "a", "b", "v")
  }

  val all: Seq[Q] = Seq(

    // ---- exact dedup: hash-groupBy on the order-insensitive token-set
    // fingerprint; one shuffle on the 128-bit key at any scale.
    q("q44_dedup_exact",
      s"""SELECT fp, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id,
         |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS all_ids
         |FROM (SELECT doc_id,
         |        md5(array_to_string(list_sort(list_distinct($sqlToks)), ' ')) AS fp
         |      FROM documents)
         |GROUP BY fp HAVING COUNT(*) > 1
         |ORDER BY fp NULLS FIRST""".stripMargin) { (s, dir) =>
      T.documents(s, dir)
        .select(col("doc_id"), TextOps.tokenSetFingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"),
          concat_ws(",", sort_array(collect_list(col("doc_id")))).as("all_ids"))
        .filter(col("n_dups") > 1)
        .orderBy("fp")
    },

    // ---- MinHash-LSH near-dup pairs (3-gram shingles, 128 hashes, 64
    // bands of 2): banded bucket join + exact-Jaccard verification; oracle
    // is the brute-force Jaccard at this SF (2*|I| >= |U| is the integer
    // spelling of J >= 0.5, so both sides agree bit-for-bit).
    q("q45_dedup_minhash_lsh",
      s"""WITH sh AS (
         |  SELECT doc_id, $sqlShingles AS shingles
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |)
         |SELECT a.doc_id AS ida, b.doc_id AS idb,
         |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
         |FROM sh a, sh b
         |WHERE a.doc_id < b.doc_id
         |  AND len(list_intersect(a.shingles, b.shingles)) * 2
         |      >= len(list_distinct(list_concat(a.shingles, b.shingles)))
         |ORDER BY ida NULLS FIRST, idb NULLS FIRST""".stripMargin) { (s, dir) =>
      TextOps.minhashLshPairs(T.documents(s, dir), "doc_id", "text",
          shingleN = 3, numHashes = 128, rowsPerBand = 2, threshold = 0.5)
        .orderBy("ida", "idb")
    },

    // ---- exact n-gram Jaccard dedup pairs via prefix filtering — the
    // exact counterpart to q45's banded MinHash: the oracle recomputes
    // every pair's Jaccard brute-force; the engine's candidates come only
    // from the rarest-first prefix-shingle equi-join. Trigrams at 0.8: the
    // prefix is the ~20% rarest shingles per doc, so the candidate index
    // is a fraction of the full inverted index (a bigram index at 0.5
    // measured 100x slower — common shingles dominate half-doc prefixes).
    q("q67_ngram_jaccard",
      s"""WITH sh AS (
         |  SELECT doc_id, $sqlShingles AS shingles
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |)
         |SELECT a.doc_id AS ida, b.doc_id AS idb,
         |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
         |FROM sh a, sh b
         |WHERE a.doc_id < b.doc_id
         |  AND len(a.shingles) > 0 AND len(b.shingles) > 0
         |  AND len(list_intersect(a.shingles, b.shingles)) * 5
         |      >= len(list_distinct(list_concat(a.shingles, b.shingles))) * 4
         |ORDER BY ida NULLS FIRST, idb NULLS FIRST""".stripMargin) { (s, dir) =>
      TextOps.ngramJaccardPairs(T.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy("ida", "idb")
    },

    // ---- per-document text statistics + quality flag (integer arithmetic
    // only, so the flag is engine-exact).
    q("q46_text_stats",
      s"""SELECT doc_id,
         |  len($sqlToks) AS n_tokens,
         |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_lex,
         |  length(text) AS n_chars,
         |  len(list_filter($sqlToks, t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop,
         |  (len(list_filter($sqlToks, t -> t IN ('the', 'a', 'of', 'and'))) * 10
         |     >= len($sqlToks) AND length(text) >= 100) AS is_quality
         |FROM documents ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      val nStop = size(filter(toks,
        t => TextOps.enMarkers.map(w => t === w).reduce(_ || _)))
      T.documents(s, dir).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        TextOps.lexTokenCount(col("text")).as("n_lex"),
        length(col("text")).as("n_chars"),
        nStop.as("n_stop"),
        (nStop * 10 >= size(toks) && length(col("text")) >= 100).as("is_quality"))
        .orderBy("doc_id")
    },

    // ---- stopword-profile language ID vs the declared lang column.
    q("q47_lang_id",
      s"""SELECT doc_id, lang,
         |  CASE WHEN en >= de AND en >= es AND en > 0 THEN 'en'
         |       WHEN de > en AND de >= es THEN 'de'
         |       WHEN es > en AND es > de THEN 'es'
         |       ELSE 'und' END AS lang_guess
         |FROM (SELECT doc_id, lang,
         |        len(list_filter($sqlToks, t -> t IN ('the', 'a', 'of', 'and'))) AS en,
         |        len(list_filter($sqlToks, t -> t IN ('der', 'die', 'das', 'und'))) AS de,
         |        len(list_filter($sqlToks, t -> t IN ('el', 'la', 'los', 'y'))) AS es
         |      FROM documents)
         |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      T.documents(s, dir).select(col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("lang_guess"))
        .orderBy("doc_id")
    },

    // ---- 64-bit SimHash fingerprints (md5-bit-derived, engine-portable).
    q("q48_simhash", simhashOracle) { (s, dir) =>
      TextOps.simhash(T.documents(s, dir), "doc_id", "text").orderBy("doc_id")
    },

    // ---- SimHash hamming near-dup JOIN (beyond-parity; the Manku et al.
    // web-dedup shape q48's fingerprint exists for): all pairs within
    // hamming distance 3, EXACT via the block pigeonhole — 4 contiguous
    // 16-bit blocks; a pair within distance 3 must agree exactly on one,
    // so the only join is the (block, bits) bucket equi-join and the
    // verify is codegen'd conv+xor+bit_count integer math per candidate
    // (TextOps.simhashNearDupPairs scaladoc). The oracle brute-forces
    // all pairs with per-character hamming, so a missed candidate
    // (pigeonhole bug), a wrong block split, or a verify off-by-one all
    // hash-mismatch.
    q("q154_simhash_neardup", {
      val sums = (0 until 64).map { b =>
        val k = b / 4 + 1
        val div = 1 << (3 - (b % 4))
        s"SUM(2 * ((CAST(strpos('0123456789abcdef', substr(md5(t), $k, 1)) - 1 AS INT) // $div) % 2) - 1) AS s$b"
      }
      val bits = (0 until 64).map(b => s"(CASE WHEN s$b >= 0 THEN '1' ELSE '0' END)")
      s"""WITH sh AS (
         |  SELECT doc_id, ${bits.mkString(" || ")} AS s FROM (
         |    SELECT doc_id, ${sums.mkString(", ")}
         |    FROM (SELECT doc_id, unnest(list_distinct($sqlToks)) AS t
         |          FROM documents)
         |    GROUP BY doc_id)),
         |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |        CAST(len([i for i in range(1, 65)
         |                  if substr(a.s, i, 1) != substr(b.s, i, 1)])
         |          AS BIGINT) AS hd
         |      FROM sh a, sh b WHERE a.doc_id < b.doc_id)
         |SELECT ida, idb, hd FROM p WHERE hd <= 3
         |ORDER BY ida NULLS FIRST, idb NULLS FIRST""".stripMargin
    }) { (s, dir) =>
      TextOps.simhashNearDupPairs(T.documents(s, dir), "doc_id", "text",
          maxHamming = 3)
        .orderBy("ida", "idb")
    },

    // ---- SimHash near-dup CLUSTERING (the q154 pairs composed the way
    // the Manku web-dedup use-case runs them): exact-dup collapse by
    // token-set fingerprint first (replicas share the SAME simhash —
    // it derives from the distinct token set — so the collapse loses
    // nothing), hamming pairs among representatives only, connected
    // components, every doc labeled with its component's min doc id.
    // Cost is family-collapsed: a replica family is one node, not
    // f(f-1)/2 pairs. The oracle replays the whole composition —
    // fp families, per-rep simhash, brute-force hamming, recursive
    // closure, replica attach — so a wrong family min, a missed pair,
    // or a dropped singleton all hash-mismatch.
    q("q155_simhash_clusters", {
      val sums = (0 until 64).map { b =>
        val k = b / 4 + 1
        val div = 1 << (3 - (b % 4))
        s"SUM(2 * ((CAST(strpos('0123456789abcdef', substr(md5(t), $k, 1)) - 1 AS INT) // $div) % 2) - 1) AS s$b"
      }
      val bits = (0 until 64).map(b => s"(CASE WHEN s$b >= 0 THEN '1' ELSE '0' END)")
      s"""WITH RECURSIVE fp AS (
         |  SELECT doc_id,
         |    md5(array_to_string(list_sort(list_distinct($sqlToks)), ' ')) AS f
         |  FROM documents),
         |rep AS (SELECT f, MIN(doc_id) AS rep FROM fp GROUP BY f),
         |docrep AS (SELECT fp.doc_id, rep.rep FROM fp JOIN rep USING (f)),
         |sh AS (
         |  SELECT doc_id, ${bits.mkString(" || ")} AS s FROM (
         |    SELECT doc_id, ${sums.mkString(", ")}
         |    FROM (SELECT doc_id, unnest(list_distinct($sqlToks)) AS t
         |          FROM documents JOIN (SELECT rep FROM rep) r
         |            ON doc_id = r.rep)
         |    GROUP BY doc_id)),
         |pr AS (SELECT a.doc_id AS ida, b.doc_id AS idb
         |       FROM sh a, sh b WHERE a.doc_id < b.doc_id
         |         AND len([i for i in range(1, 65)
         |                  if substr(a.s, i, 1) != substr(b.s, i, 1)]) <= 3),
         |edges AS (SELECT ida AS a, idb AS b FROM pr
         |          UNION SELECT idb AS a, ida AS b FROM pr),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |),
         |cc AS (SELECT a AS rep, least(a, MIN(b)) AS cluster
         |       FROM reach GROUP BY a)
         |SELECT d.doc_id, coalesce(cc.cluster, d.rep) AS cluster
         |FROM docrep d LEFT JOIN cc USING (rep)
         |ORDER BY doc_id NULLS FIRST""".stripMargin
    }) { (s, dir) =>
      TextOps.simhashNearDupClusters(T.documents(s, dir), "doc_id", "text",
          maxHamming = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // ---- exact cosine top-k for a bounded query batch: broadcast batch ×
    // corpus + per-query top-k window (the ANN baseline; ids only in the
    // output so float formatting never enters the compare).
    q("q49_ann_topk",
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
        |p AS (SELECT q.qid, e.vec_id AS nid,
        |        list_cosine_similarity(CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
        |      FROM q, embeddings e WHERE e.vec_id != q.qid),
        |r AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk FROM p)
        |SELECT qid, rk, nid FROM r WHERE rk <= 3
        |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin) { (s, dir) =>
      val emb = T.embeddings(s, dir)
      AnnOps.topKForQueries(emb, emb.filter(col("vec_id") < 20), 3)
        .orderBy("qid", "rk")
    },

    // ---- random-hyperplane LSH cosine threshold self-join (the scale
    // path): (band, key) bucket join + exact verification; the oracle
    // regenerates the same md5-derived hyperplanes, so both engines run the
    // identical algorithm independently.
    // bitsPerBand = 0 → occupancy-sized signatures (r7 scale-rehearsal fix:
    // pinned (16, 8) measured 35× cost at 10× data — candidate pairs grow
    // quadratically with bucket occupancy). At every gate SF (n ≤ 2000) the
    // auto sizing resolves to exactly (16, 8), the values this static
    // oracle replicates; above that the signature widens with log2(n).
    q("q50_ann_lsh_threshold", annLshOracle(16, 8, 64, 0.4)) { (s, dir) =>
      AnnOps.lshThresholdPairs(T.embeddings(s, dir), dim = 64,
          numBands = 16, bitsPerBand = 0, threshold = 0.4)
        .orderBy("ida", "idb")
    },

    // ---- heavy hitters: exact global top-k token frequencies (the
    // profiling counterpart of the KMV cardinality sketch; one partial-agg
    // shuffle + TakeOrdered at any scale).
    q("q63_token_topk",
      s"""SELECT t, CAST(COUNT(*) AS BIGINT) AS n
         |FROM (SELECT unnest($sqlToks) AS t FROM documents)
         |GROUP BY t ORDER BY n DESC, t NULLS FIRST LIMIT 20""".stripMargin) {
      (s, dir) =>
        T.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("t"))
          .groupBy("t").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("t")).limit(20)
    },

    // ---- KMV (k-minimum-values) distinct-count sketch over the global
    // token vocabulary: hash every distinct token to a 60-bit integer (15
    // md5 hex digits), keep the k smallest, estimate |V| ≈ (k-1)·2^60/h_k.
    // The sketch state is k numbers regardless of scale — the way you
    // profile cardinalities on 100 TB without a full distinct. Both engines
    // fold the same md5 digits, so the estimate matches bit-for-bit; the
    // exact count rides along as the error witness.
    q("q62_kmv_distinct", {
      val digitFold = (0 until 15).map { i =>
        val w = BigInt(16).pow(14 - i)
        s"CAST(strpos('0123456789abcdef', substr(md5(t), ${i + 1}, 1)) - 1 AS BIGINT) * $w"
      }.mkString(" + ")
      s"""WITH toks AS (SELECT DISTINCT unnest($sqlToks) AS t FROM documents),
         |h AS (SELECT $digitFold AS h FROM toks),
         |kth AS (SELECT h FROM h ORDER BY h LIMIT 256)
         |SELECT CAST(COUNT(*) AS BIGINT) AS k, MAX(h) AS hk,
         |  (CAST(COUNT(*) - 1 AS DOUBLE) * 1152921504606846976.0)
         |    / CAST(MAX(h) AS DOUBLE) AS est,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS exact_distinct
         |FROM kth""".stripMargin
    }) { (s, dir) =>
      val toks = T.documents(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("t")).distinct()
      val hashed = toks
        .select(conv(substring(md5(col("t")), 1, 15), 16, 10).cast(LongType).as("h"))
      val kth = hashed.orderBy("h").limit(256)
      val exact = toks.agg(count(lit(1)).as("exact_distinct"))
      kth.agg(count(lit(1)).as("k"), max(col("h")).as("hk"))
        .select(col("k"), col("hk"),
          ((col("k") - 1).cast(DoubleType) * lit(math.pow(2, 60)) /
            col("hk").cast(DoubleType)).as("est"))
        .crossJoin(exact)
    },

    // ---- order-sensitive rolling-hash fingerprint (Rabin–Karp family):
    // the modular fold keeps both engines in exact integer range.
    q("q61_rolling_fingerprint",
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0
        |       ELSE list_reduce([CAST(ascii(c) AS BIGINT) for c in string_split(text, '')],
        |                        (h, c) -> (h * 131 + c) % 1000000007) END AS fp
        |FROM documents ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      TextOps.rollingFingerprints(T.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---- near-dup clustering: connected components over the verified
    // near-dup pairs (transitive closure of "is a near-dup of"), cluster =
    // min doc id — the keep-one-representative step of a dedup pipeline.
    // Spark runs min-label propagation; the oracle computes the same
    // closure with a recursive CTE over the same (brute-force) pair set.
    q("q60_dedup_clusters",
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id, $sqlShingles AS shingles
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |),
         |pr AS (
         |  SELECT a.doc_id AS ida, b.doc_id AS idb FROM sh a, sh b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.shingles, b.shingles)) * 2
         |        >= len(list_distinct(list_concat(a.shingles, b.shingles)))
         |),
         |edges AS (SELECT ida AS a, idb AS b FROM pr
         |          UNION SELECT idb AS a, ida AS b FROM pr),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |)
         |SELECT a AS doc_id, least(a, MIN(b)) AS cluster FROM reach
         |GROUP BY a ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val pairs = TextOps.minhashLshPairs(T.documents(s, dir), "doc_id", "text",
        shingleN = 3, numHashes = 128, rowsPerBand = 2, threshold = 0.5)
      TextOps.connectedComponents(pairs.select(col("ida"), col("idb")))
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    },

    // ---- IVF (inverted-file) ANN: coarse-quantizer cell assignment builds
    // the inverted index; queries probe only their nProbe nearest cells, so
    // the scored corpus fraction is ~nProbe/nCentroids. Both engines build
    // the identical index from the same deterministic seed centroids.
    q("q57_ann_ivf", annIvfOracle(nCentroids = 16, nProbe = 2, k = 3)) { (s, dir) =>
      val emb = T.embeddings(s, dir)
      AnnOps.ivfTopKForQueries(emb, emb.filter(col("vec_id") < 20), k = 3,
          dim = 64, nCentroids = 16, nProbe = 2)
        .orderBy("qid", "rk")
    },

    // ---- PERSISTED IVF index: same semantics as q57, but the inverted
    // index round-trips through parquet `partitionBy(cid)` — the lake
    // layout — and the probe path reads ONLY the probed cells (partition
    // pruning, PlanSpec-asserted). Seed centroids here so the oracle can
    // rebuild the identical index; production builds use k-means||
    // (buildIvfIndex's default). The index is built once per dataset per
    // JVM (a real index is written once and probed many times — the entry
    // measures the probe path, not a rebuild per query).
    q("q76_ann_ivf_persisted", annIvfOracle(nCentroids = 16, nProbe = 2, k = 3)) { (s, dir) =>
      val emb = T.embeddings(s, dir)
      val path = ivfIndexFor(dir, emb)
      AnnOps.ivfTopKFromIndex(s, path, emb.filter(col("vec_id") < 20),
          k = 3, dim = 64, nProbe = 2)
        .orderBy("qid", "rk")
    },

    // ---- FILTERED vector search (the production "payload filter" probe:
    // restrict candidates by metadata, THEN take the exact top-k among
    // probed cells). The label payload lives INLINE in the persisted
    // index cells, so the IN-predicate pushes into the already
    // partition-pruned parquet scan — no per-query join against a
    // metadata side table, filtered rows never reach the dot-product
    // kernel. nProbe is doubled vs q76: a ~30%-selective filter thins
    // each probed cell's pool, so the probe widens to keep candidate
    // depth (the recall dial every vector store exposes; exactness
    // within probed cells is unchanged and the oracle replays it).
    q("q158_ann_filtered", annIvfOracle(nCentroids = 16, nProbe = 4, k = 3,
        pred = "a.label IN (1, 4, 7)")) { (s, dir) =>
      val emb = T.embeddings(s, dir)
      val path = ivfIndexFor(dir, emb)
      AnnOps.ivfTopKFromIndex(s, path, emb.filter(col("vec_id") < 20),
          k = 3, dim = 64, nProbe = 4,
          predicate = Some(col("label").isin(1, 4, 7)))
        .orderBy("qid", "rk")
    },

    // ---- FILTERED vector search on the COMPRESSED path (VERDICT r14
    // #6): q158's payload predicate served from the persisted IVF-PQ
    // index — the 8 B/vector layout a lake-scale deployment actually
    // queries. The label payload is INLINE in the packed cells, so the
    // IN-predicate pushes into the partition-pruned cells scan
    // (PlanSpec-asserted) and filtered rows never reach code unpacking
    // or the ADC kernel. Deterministic build (seed cells, zero means,
    // md5 hash codebooks — the q145 discipline), so the oracle rebuilds
    // codebooks, unit vectors, routing, encoding, per-query ADC tables,
    // and the FILTERED ranking from the same parquet.
    q("q159_ann_filtered_pq",
      s"""WITH cb AS (
         |  SELECT j, c,
         |    [(list_sum([(strpos('0123456789abcdef',
         |        substr(md5('pq:' || CAST((j*16 + c)*8 + t + 1 AS VARCHAR)),
         |          d, 1)) - 1) * power(16.0, 8 - d) for d in range(1, 9)])
         |      / 2147483648.0 - 1) for t in range(0, 8)] AS cv
         |  FROM range(0, 8) tj(j), range(0, 16) tc(c)),
         |ue AS (
         |  SELECT vec_id,
         |    [x * (1.0 / sqrt(list_sum([y * y for y in e]))) for x in e] AS u
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |        FROM embeddings)),
         |cent AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  ORDER BY vec_id LIMIT 16),
         |asgc AS (
         |  SELECT nid, label, cid FROM (
         |    SELECT e.vec_id AS nid, e.label, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                                        CAST(c.ce AS DOUBLE[])) DESC,
         |                 c.cid) AS r
         |    FROM embeddings e, cent c) WHERE r = 1),
         |enc AS (
         |  SELECT vec_id, j, c AS code FROM (
         |    SELECT vec_id, j, c,
         |      row_number() OVER (PARTITION BY vec_id, j
         |        ORDER BY d2v, c) AS rn
         |    FROM (SELECT s.vec_id, s.j, cb.c,
         |            list_sum([(s.u[s.j*8 + t + 1] - cb.cv[t + 1])
         |              * (s.u[s.j*8 + t + 1] - cb.cv[t + 1])
         |              for t in range(0, 8)]) AS d2v
         |          FROM (SELECT vec_id, u, j
         |                FROM ue CROSS JOIN range(0, 8) tj(j)) s
         |          JOIN cb USING (j)))
         |  WHERE rn = 1),
         |qv AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 20),
         |qprobe AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_cosine_similarity(
         |            CAST(e.embedding AS DOUBLE[]),
         |            CAST(c.ce AS DOUBLE[])) DESC, c.cid) AS r
         |    FROM qv q JOIN embeddings e ON e.vec_id = q.qid, cent c)
         |  WHERE r <= 4),
         |qtab AS (
         |  SELECT s.qid, s.j, cb.c,
         |    list_sum([(s.u[s.j*8 + t + 1] - cb.cv[t + 1])
         |      * (s.u[s.j*8 + t + 1] - cb.cv[t + 1])
         |      for t in range(0, 8)]) AS d2
         |  FROM (SELECT ue.vec_id AS qid, ue.u, j
         |        FROM ue JOIN qv ON qv.qid = ue.vec_id
         |        CROSS JOIN range(0, 8) tj(j)) s
         |  JOIN cb USING (j)),
         |scored AS (
         |  SELECT p.qid, a.nid, list_sum(list(t.d2 ORDER BY t.j)) AS dist
         |  FROM qprobe p JOIN asgc a USING (cid)
         |       JOIN enc e ON e.vec_id = a.nid
         |       JOIN qtab t ON t.qid = p.qid AND t.j = e.j AND t.c = e.code
         |  WHERE a.nid != p.qid AND a.label IN (1, 4, 7)
         |  GROUP BY p.qid, a.nid)
         |SELECT qid, rk, nid FROM (
         |  SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY dist, nid) AS BIGINT) AS rk
         |  FROM scored) WHERE rk <= 3
         |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin) { (s, dir) =>
      val emb = T.embeddings(s, dir)
      AnnOps.ivfPqTopKFromIndex(s, ivfPqIndexFor(dir, emb),
          emb.filter(col("vec_id") < 20), k = 3, nProbe = 4,
          predicate = Some(col("label").isin(1, 4, 7)))
        .orderBy("qid", "rk")
    },

    // ---- multimodal binary plumbing: opaque payload + typed metadata
    // (decode stub exercised in MultimodalOpsSpec; this entry checks the
    // SQL-visible surface).
    q("q51_multimodal_binary",
      """SELECT doc_id AS media_id, 'application/x-fake' AS mime,
        |  octet_length(encode(text)) AS n_bytes,
        |  lower(substr(hex(encode(text)), 1, 16)) AS head_hex,
        |  md5(text) AS digest
        |FROM documents ORDER BY media_id NULLS FIRST""".stripMargin) { (s, dir) =>
      MultimodalOps.asMediaTable(T.documents(s, dir), "doc_id", "text")
        .select(col("media_id"), col("meta.mime").as("mime"),
          col("meta.n_bytes").as("n_bytes"),
          lower(substring(hex(col("payload")), 1, 16)).as("head_hex"),
          md5(col("payload")).as("digest"))
        .orderBy("media_id")
    },

    // ---- multimodal frame sampling: one "video" payload → a few small
    // frame rows (every 4th 32-char frame, max 8) through a one-to-many
    // partition-local kernel — the shape where shipping whole payloads
    // through a shuffle would be the scale bug. The oracle regenerates the
    // same frames character-for-character.
    q("q70_frame_sample",
      """WITH f AS (
        |  SELECT doc_id, i AS frame_idx,
        |    substring(text, CAST(i * 32 + 1 AS INT), 32) AS frame
        |  FROM documents,
        |    UNNEST(generate_series(0, CAST((length(text) + 31) // 32 - 1 AS BIGINT))) AS t(i)
        |  WHERE i % 4 = 0 AND i // 4 < 8
        |)
        |SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  md5(frame) AS fhash, CAST(length(frame) AS INT) AS flen
        |FROM f ORDER BY media_id NULLS FIRST, frame_idx NULLS FIRST""".stripMargin) {
      (s, dir) =>
        MultimodalOps.sampleFramesStub(T.documents(s, dir), "doc_id", "text",
            frameChars = 32, stride = 4, maxFrames = 8)
          .orderBy("media_id", "frame_idx")
    },

    // ---- PII redaction (beyond-parity): emails then phone numbers
    // replaced by typed placeholders, plus per-doc hit counts. Map-only
    // codegen'd regexp ops; the patterns live in the Java∩RE2 regex subset
    // so DuckDB (RE2) redacts the identical spans. The corpus carries no
    // real PII, so the entry plants one deterministic email + phone per
    // document (derived from doc_id, identically on both sides) and
    // verifies they come back out.
    q("q82_pii_redact",
      raw"""WITH t AS (SELECT doc_id,
           |  concat('u', CAST(doc_id AS VARCHAR), '@ex.org 555-',
           |         lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',
           |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ', text) AS t2
           |  FROM documents)
           |SELECT doc_id,
           |  len(regexp_extract_all(t2,
           |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           |  len(regexp_extract_all(t2, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
           |  substr(regexp_replace(regexp_replace(t2,
           |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |      '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'), 1, 80) AS red
           |FROM t ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val t2 = concat(lit("u"), col("doc_id").cast(StringType), lit("@ex.org 555-"),
        lpad((col("doc_id") % 1000).cast(StringType), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast(StringType), 4, "0"), lit(" "), col("text"))
      T.documents(s, dir).select(col("doc_id"), t2.as("t2"))
        .select(col("doc_id"),
          TextOps.emailCount(col("t2")).cast(LongType).as("n_email"),
          TextOps.phoneCount(col("t2")).cast(LongType).as("n_phone"),
          substring(TextOps.redactPii(col("t2")), 1, 80).as("red"))
        .orderBy("doc_id")
    },

    // ---- Gopher-style repetition stats (beyond-parity): top-word
    // fraction per document via one map-only per-partition kernel (zero
    // shuffle; the explode spelling shuffles |words| rows per doc — see
    // RepetitionSpec for the measured gap and the equality check).
    q("q83_word_repetition",
      """WITH w AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
        |           FROM documents),
        |     c AS (SELECT doc_id, w, COUNT(*) AS cnt FROM w
        |           WHERE w <> '' GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
        |       COUNT(*) AS n_distinct, CAST(MAX(cnt) AS BIGINT) AS max_cnt,
        |       CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id NULLS FIRST""".stripMargin) {
      (s, dir) =>
        TextOps.wordRepetitionStats(T.documents(s, dir), "doc_id", "text")
          .orderBy("doc_id")
    },

    // ---- deterministic stratified sampling (beyond-parity): per-source
    // rates (50% / 25% / 12.5%), rows selected by md5(id) bucket so the
    // sample is exactly reproducible on ANY engine — the oracle
    // re-derives the identical row set in DuckDB. Broadcast rates join +
    // map-side filter; no shuffle of the corpus at any scale.
    q("q84_stratified_sample",
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN '8000'
        |       WHEN source IN ('src5','src6','src7','src8','src9') THEN '4000'
        |       ELSE '2000' END
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val rates =
        (0 to 4).map(i => s"src$i" -> 0.5).toMap ++
          (5 to 9).map(i => s"src$i" -> 0.25).toMap
      SampleOps.hashStratifiedSample(T.documents(s, dir), "doc_id", "source",
          rates, defaultRate = 0.125)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // ---- embedding near-dup clustering, end to end (beyond-parity): the
    // q50 LSH candidate generator feeds the q60 connected-components
    // labeler — the full "collapse near-duplicate vectors to one
    // representative" pipeline in two scale-safe stages (banded bucket
    // join, then O(log diameter) pointer jumping; never all-pairs). The
    // oracle regenerates the identical pair set brute-force and closes it
    // with a recursive CTE.
    q("q86_embedding_dedup_clusters",
      annClusterOracle(16, 8, 64, 0.4)) { (s, dir) =>
      // bitsPerBand = 0 → occupancy-sized (see q50); identical to the
      // oracle's (16, 8) at every gate SF, log2(n)-wide above that.
      val pairs = AnnOps.lshThresholdPairs(T.embeddings(s, dir), dim = 64,
        numBands = 16, bitsPerBand = 0, threshold = 0.4)
      TextOps.connectedComponents(pairs.select(col("ida"), col("idb")))
        .select(col("id").as("vec_id"), col("cluster"))
        .orderBy("vec_id")
    },

    // ---- exact per-stratum quota (beyond-parity): exactly 5 docs per
    // source, selected by smallest md5(id) — a deterministic "N examples
    // per source" sampler (id tie-break totalizes the order, so the row
    // set is unique and DuckDB re-derives it).
    q("q88_quota_sample",
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 5
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      SampleOps.hashQuotaSample(T.documents(s, dir), "doc_id", "source", 5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // ---- deterministic train/val/test split (beyond-parity): labels by
    // md5(id) range (80/10/10). Map-only; a row's label never changes when
    // the corpus grows — the reproducibility property random splits lack.
    q("q89_train_split",
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,4) < 'cccd' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,4) < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      SampleOps.hashSplit(T.documents(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id")
    },

    // ---- benchmark decontamination (beyond-parity): training docs
    // sharing ≥2 distinct 3-gram shingles with any held-out doc — the
    // "did the eval set leak into training?" check. The split reuses q89's
    // hash split (both engines derive identical sides); postings meet in
    // a shingle equi-join bounded by the (small) eval side, never
    // |train|×|eval|. The oracle brute-forces the pair intersections.
    q("q90_decontamination",
      """WITH lab AS (SELECT doc_id, text,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,4) < 'e666'
        |         THEN 'train' ELSE 'test' END AS split FROM documents),
        |sh AS (SELECT doc_id, split,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |                   for i in range(1, len(toks) - 1)]) AS shingles
        |  FROM (SELECT doc_id, split, string_split(trim(text), ' ') AS toks
        |        FROM lab))
        |SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
        |       CAST(len(list_intersect(t.shingles, e.shingles)) AS BIGINT)
        |         AS n_shared
        |FROM sh t, sh e
        |WHERE t.split = 'train' AND e.split = 'test'
        |  AND len(list_intersect(t.shingles, e.shingles)) >= 2
        |ORDER BY train_id NULLS FIRST, eval_id NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val lab = SampleOps.hashSplit(T.documents(s, dir), "doc_id",
          Seq("train" -> 0.9, "test" -> 0.1))
        TextOps.ngramContamination(
            lab.filter(col("split") === "train"),
            lab.filter(col("split") === "test"),
            "doc_id", "text", n = 3, minShared = 2)
          .orderBy("train_id", "eval_id")
    },

    // ---- corpus df quality stats (beyond-parity): per-doc token count,
    // summed corpus document frequency, hapax count, mean df — the
    // rare-word/boilerplate quality axis. Exact integer aggregation
    // (deterministic under any partial-agg order); the one division at
    // the end is bitwise-stable. Vocabulary-sized df table, Zipf-small.
    q("q91_df_quality",
      """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
        |             FROM documents),
        |dfreq AS (SELECT t, count(DISTINCT doc_id) AS dfc FROM tok GROUP BY t)
        |SELECT doc_id, count(*) AS n_tok,
        |       CAST(SUM(dfc) AS BIGINT) AS sum_df,
        |       CAST(SUM(CASE WHEN dfc = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_hapax,
        |       CAST(CAST(SUM(dfc) AS BIGINT) AS DOUBLE) / count(*) AS mean_df
        |FROM tok JOIN dfreq USING (t)
        |GROUP BY doc_id ORDER BY doc_id NULLS FIRST""".stripMargin) {
      (s, dir) =>
        TextOps.docFrequencyStats(T.documents(s, dir), "doc_id", "text")
          .orderBy("doc_id")
    },

    // ---- duplicate-span scrub (beyond-parity): drop 5-token chunks that
    // occur in ≥2 distinct documents (cross-doc boilerplate), keep
    // within-doc repetition, reassemble survivors in order. Linear chunk
    // rows; the dup set meets in a shuffled anti-join, never broadcast
    // (it is corpus-sized in the worst case).
    q("q92_span_scrub",
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, toks,
        |        unnest(range(1, CAST(ceil(len(toks) / 5.0) AS BIGINT) + 1))
        |          AS pos FROM t),
        |ch AS (SELECT doc_id, pos,
        |         array_to_string(toks[(pos-1)*5+1 : pos*5], ' ') AS chunk
        |       FROM p),
        |dup AS (SELECT chunk FROM ch GROUP BY chunk
        |        HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (SELECT doc_id, pos, chunk FROM ch
        |         WHERE chunk NOT IN (SELECT chunk FROM dup)),
        |agg AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
        |          count(*) AS n_kept FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id)
        |SELECT tot.doc_id, coalesce(agg.clean_text, '') AS clean_text,
        |       tot.n_chunks,
        |       tot.n_chunks - coalesce(agg.n_kept, 0) AS n_dropped
        |FROM tot LEFT JOIN agg ON tot.doc_id = agg.doc_id
        |ORDER BY tot.doc_id NULLS FIRST""".stripMargin) {
      (s, dir) =>
        TextOps.duplicateSpanScrub(T.documents(s, dir), "doc_id", "text",
            k = 5, minDocs = 2)
          .orderBy("doc_id")
    },

    // ---- token-budget sharding (beyond-parity): pack id-ordered docs
    // into ≤512-token training shards by running total. The oracle uses
    // the global window; the engine runs a two-phase distributed prefix
    // sum (per-partition sums → broadcast offsets → map) because a global
    // `sum OVER (ORDER BY id)` window is a single-reducer scale cliff.
    q("q93_pack_shards",
      """WITH w AS (SELECT doc_id,
        |    len(string_split(trim(text), ' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |    CAST(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tok
        |  FROM w)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |       cum_tok,
        |       CAST((greatest(cum_tok, 1) - 1) // 512 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val docs = T.documents(s, dir)
        SampleOps.packIntoShards(docs, "doc_id",
            size(TextOps.tokens(col("text"))), budget = 512L)
          .orderBy("doc_id")
    },

    // ---- canonical selection (beyond-parity): the collapse step after
    // q44's dedup — keep the longest doc per fingerprint group, smallest
    // id on ties; singletons pass through. One shuffle; argmax + group
    // size share the window partitioning (no groupBy + self-join back).
    q("q94_canonical_docs",
      s"""WITH f AS (SELECT doc_id, text,
         |    md5(array_to_string(list_sort(list_distinct($sqlToks)), ' '))
         |      AS fp FROM documents),
         |r AS (SELECT doc_id, fp,
         |    ROW_NUMBER() OVER (PARTITION BY fp
         |      ORDER BY len(text) DESC, doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY fp) AS group_size
         |  FROM f)
         |SELECT doc_id, fp, group_size FROM r WHERE rn = 1
         |ORDER BY doc_id NULLS FIRST""".stripMargin) {
      (s, dir) =>
        TextOps.canonicalDocs(T.documents(s, dir), "doc_id", "text")
          .orderBy("doc_id")
    },

    // ---- feature hashing (beyond-parity): vocabulary-free fixed-width
    // featurization — token counts hashed into numBuckets buckets by the
    // first FOUR md5 hex digits mod numBuckets (near-uniform for any
    // bucket count, not just divisors of 16). numBuckets=10 exercises
    // the non-divisor path. Integer counts end to end; explode + two
    // keyed aggregations. The catalog output is the comma-joined STRING
    // spelling (q15 convention) — integer counts, so the strings compare
    // exactly, and the driver harness never sees a nested array column.
    q("q95_feature_hash",
      """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
        |             FROM documents),
        |b AS (SELECT doc_id,
        |        CAST((  (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 4096
        |              + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 256
        |              + (strpos('0123456789abcdef', substr(md5(t), 3, 1)) - 1) * 16
        |              + (strpos('0123456789abcdef', substr(md5(t), 4, 1)) - 1)) % 10
        |          AS INT) AS bucket FROM tok),
        |c AS (SELECT doc_id, bucket, count(*) AS cnt
        |      FROM b GROUP BY doc_id, bucket),
        |grid AS (SELECT d.doc_id, g.j FROM
        |           (SELECT DISTINCT doc_id FROM documents) d,
        |           (SELECT unnest(range(10)) AS j) g)
        |SELECT grid.doc_id,
        |       array_to_string(list(coalesce(c.cnt, 0) ORDER BY grid.j), ',')
        |         AS feature_str
        |FROM grid LEFT JOIN c
        |  ON grid.doc_id = c.doc_id AND grid.j = c.bucket
        |GROUP BY grid.doc_id
        |ORDER BY grid.doc_id NULLS FIRST""".stripMargin) {
      (s, dir) =>
        TextOps.featureHash(T.documents(s, dir), "doc_id", "text",
            numBuckets = 10)
          .select("doc_id", "feature_str")
          .orderBy("doc_id")
    },

    // ---- Unicode NFC normalization (beyond-parity): the native
    // graft_nfc Catalyst expression (codegen'd, allocation-free pass-
    // through for already-NFC rows) vs DuckDB's nfc_normalize. The
    // corpus is ASCII, so each doc gets a deterministic decomposed
    // suffix (e+U+0301, u+U+0308, A+U+030A) planted — the q82 PII
    // pattern — and both engines must compose it identically.
    q("q96_nfc_normalize",
      """WITH p AS (SELECT doc_id,
        |    text || ' Cafe' || chr(769) || ' u' || chr(776) || 'ber A'
        |         || chr(778) AS planted
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(planted) AS nfc_text,
        |       length(planted) AS len_raw,
        |       length(nfc_normalize(planted)) AS len_nfc
        |FROM p ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      graft.functions.NfcNormalize.register(s)
      val planted = concat(col("text"), lit(" Cafe\u0301 u\u0308ber A\u030A"))
      val nfc = call_function(graft.functions.NfcNormalize.name, planted)
      T.documents(s, dir).select(col("doc_id"),
          nfc.as("nfc_text"),
          length(planted).cast(LongType).as("len_raw"),
          length(nfc).cast(LongType).as("len_nfc"))
        .orderBy("doc_id")
    },

    // ---- distinctive keywords (beyond-parity): top-3 tokens per doc by
    // (tf desc, corpus df asc, token) — integer-exact tf-idf ranking
    // skeleton. Partial-agg tf shuffle, Zipf-small df table, per-doc
    // rank window (never a global sort).
    q("q97_keywords",
      """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
        |             FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
        |dfreq AS (SELECT t, count(DISTINCT doc_id) AS dfc FROM tok GROUP BY t),
        |r AS (SELECT tf.doc_id, tf.t, tf.tf, dfreq.dfc,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, dfreq.dfc ASC, tf.t ASC) AS rk
        |  FROM tf JOIN dfreq USING (t))
        |SELECT doc_id, t, tf, dfc, rk FROM r WHERE rk <= 3
        |ORDER BY doc_id NULLS FIRST, rk NULLS FIRST""".stripMargin) {
      (s, dir) =>
        TextOps.distinctiveKeywords(T.documents(s, dir), "doc_id", "text", k = 3)
          .withColumn("rk", col("rk").cast(LongType))
          .orderBy("doc_id", "rk")
    },

    // ---- embedding chunking (beyond-parity): overlapping 30-token
    // windows at 20-token stride — the pre-embedding split. Map-only
    // one-to-many (the frame-sampling shape); n_tok from pre-explode
    // arithmetic, no re-tokenization.
    q("q98_chunks",
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |           FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) <= 30 THEN 1
        |         ELSE 1 + CAST(ceil((len(toks) - 30) / 20.0) AS BIGINT)
        |    END AS nc
        |  FROM t),
        |p AS (SELECT doc_id, toks, n, unnest(range(nc)) AS i FROM n)
        |SELECT doc_id, CAST(i AS INT) AS chunk_pos,
        |       array_to_string(toks[i*20+1 : i*20+30], ' ') AS chunk_text,
        |       CAST(least(30, n - i*20) AS BIGINT) AS n_tok
        |FROM p
        |ORDER BY doc_id NULLS FIRST, chunk_pos NULLS FIRST""".stripMargin) {
      (s, dir) =>
        TextOps.chunkForEmbedding(T.documents(s, dir), "doc_id", "text",
            window = 30, stride = 20)
          .orderBy("doc_id", "chunk_pos")
    },

    // ---- vocabulary build (beyond-parity): every token with total count
    // and a contiguous global rank by (cnt desc, token). The oracle uses
    // the global window; the engine range-repartitions the Zipf-small
    // count table and assigns ranks via zipWithIndex offsets — no
    // single-reducer window (spec asserts no Window node).
    q("q99_vocabulary",
      """WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS t
        |             FROM documents),
        |c AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t)
        |SELECT t, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, t) AS rank
        |FROM c ORDER BY rank NULLS FIRST""".stripMargin) { (s, dir) =>
      TextOps.vocabulary(T.documents(s, dir), "doc_id", "text")
        .orderBy("rank")
    },

    // ---- duplicate n-gram fraction (beyond-parity): the Gopher
    // "fraction in duplicate n-grams" repetition signal, word 3-grams.
    // ONE map-only per-partition kernel (per-doc hash map, zero shuffle);
    // docs shorter than n tokens emit nothing.
    q("q100_dup_ngrams",
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |           FROM documents),
        |p AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        |      FROM t WHERE len(toks) >= 3),
        |g AS (SELECT doc_id, array_to_string(toks[i : i+2], ' ') AS ng
        |      FROM p),
        |c AS (SELECT doc_id, ng, count(*) AS cnt FROM g GROUP BY doc_id, ng)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_ngrams,
        |       CAST(COALESCE(sum(cnt) FILTER (WHERE cnt > 1), 0) AS BIGINT)
        |         AS n_dup,
        |       CAST(COALESCE(sum(cnt) FILTER (WHERE cnt > 1), 0) AS DOUBLE)
        |         / CAST(sum(cnt) AS DOUBLE) AS dup_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id NULLS FIRST""".stripMargin) {
      (s, dir) =>
        TextOps.dupNgramStats(T.documents(s, dir), "doc_id", "text", n = 3)
          .orderBy("doc_id")
    },

    // ---- collocation mining (beyond-parity): adjacent token pairs by
    // normalized lift cxy·N/(cx·cy) (PMI ordering without the log), min
    // count 5, global top-20. Partial-agg count shuffles, Zipf-small
    // vocab joins, TakeOrdered top-k — rank assigned after the LIMIT.
    q("q101_collocations",
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |           FROM documents),
        |u AS (SELECT unnest(toks) AS w FROM t),
        |uc AS (SELECT w, count(*) AS c FROM u GROUP BY w),
        |nt AS (SELECT count(*) AS n FROM u),
        |p AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        |      FROM t WHERE len(toks) >= 2),
        |b AS (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM p),
        |bc AS (SELECT w1, w2, count(*) AS cxy FROM b GROUP BY w1, w2
        |       HAVING count(*) >= 5),
        |s AS (SELECT w1, w2, cxy, u1.c AS cx, u2.c AS cy,
        |        CAST(cxy * nt.n AS DOUBLE) / CAST(u1.c * u2.c AS DOUBLE)
        |          AS score
        |      FROM bc JOIN uc u1 ON bc.w1 = u1.w
        |               JOIN uc u2 ON bc.w2 = u2.w, nt)
        |SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy, CAST(cx AS BIGINT) AS cx,
        |       CAST(cy AS BIGINT) AS cy,
        |       ROW_NUMBER() OVER (ORDER BY score DESC, w1, w2) AS rank
        |FROM s ORDER BY rank NULLS FIRST LIMIT 20""".stripMargin) {
      (s, dir) =>
        TextOps.collocations(T.documents(s, dir), "text", k = 20,
            minCount = 5L)
          .orderBy("rank")
    },

    // ---- product quantization + ADC top-k (beyond-parity, the 100 TB
    // embedding-compression path): encode the corpus to m=8 codes of k=16
    // from deterministic hash codebooks (bit-reproducible in any engine —
    // the oracle rebuilds codebooks, encoding, distance tables, and ranking
    // from the same md5 stream), then score a bounded query batch with
    // per-subspace lookup tables. Trained-codebook recall is PqSpec's job;
    // this entry pins the ADC machinery end to end. Distances sum in
    // subspace order on both engines (list_sum over an ORDER BY j list in
    // the oracle), so ranking cannot drift on summation order.
    q("q107_pq_adc_topk", pqAdcOracle(8, 16, 64)) { (s, dir) =>
      val emb = T.embeddings(s, dir)
      val model = AnnOps.hashPqCodebooks(dim = 64, m = 8, k = 16)
      val enc = AnnOps.encodePq(emb, model)
      AnnOps.pqTopKForQueries(enc, emb.filter(col("vec_id") < 20), model, 3)
        .orderBy("qid", "rk")
    },

    // ---- BPE tokenization under a FROZEN merge table (beyond-parity):
    // per-doc token count after applying the 16 frozen merges single-pass
    // in rank order — tokenizers are frozen artifacts in real pipelines,
    // and the single-pass spelling is a chain of literal replaces over a
    // delimiter-wrapped symbol string that any engine reproduces exactly
    // (Bpe.singlePassTokenCount scaladoc). Training (distributed word
    // histogram + driver merge loop) and the production greedy encoder are
    // BpeSpec's job. Map-only at any corpus size.
    q("q108_bpe_tokens", bpeOracle(frozenBpeMerges)) { (s, dir) =>
      Bpe.singlePassTokenCount(T.documents(s, dir), "doc_id", "text",
        frozenBpeMerges).orderBy("doc_id")
    },

    // ---- BM25 retrieval (beyond-parity): top-10 documents per query term
    // by Okapi BM25 (k1=1.2, b=0.75, Lucene +1 idf floor). The corpus is
    // never shuffled: tf comes from a map-side array filter over the
    // literal term list, df reduces map-side to ≤|terms| rows, and the
    // top-k runs two-phase so a hot term's postings never serialize
    // through one reducer (TextOps.bm25TermTopK scaladoc). Scores round
    // to 6 decimals on both engines to absorb ln()'s last-ulp libm
    // variance; every other float op mirrors the oracle's parse tree.
    q("q112_bm25",
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |             FROM documents),
        |d AS (SELECT doc_id, toks, len(toks) AS dl FROM tok),
        |c AS (SELECT count(*) AS n_docs,
        |        CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM tok),
        |t AS (SELECT unnest(['join','window','hash','scan','stream','filter'])
        |        AS term),
        |m AS (SELECT doc_id, dl, term,
        |        len(list_filter(toks, x -> x = term)) AS tf
        |      FROM d CROSS JOIN t),
        |mm AS (SELECT * FROM m WHERE tf > 0),
        |df AS (SELECT term, count(*) AS dfc FROM mm GROUP BY term),
        |s AS (SELECT term, doc_id, tf, dl,
        |        round(ln((n_docs - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |          * (tf * (1.2 + 1.0))
        |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS score
        |      FROM mm JOIN df USING (term), c),
        |r AS (SELECT term, doc_id, tf, dl, score,
        |        ROW_NUMBER() OVER (PARTITION BY term
        |          ORDER BY score DESC, doc_id) AS rank FROM s)
        |SELECT term, rank, doc_id, CAST(tf AS BIGINT) AS tf,
        |       CAST(dl AS BIGINT) AS dl, score
        |FROM r WHERE rank <= 10
        |ORDER BY term NULLS FIRST, rank NULLS FIRST""".stripMargin) {
      (s, dir) =>
        TextOps.bm25TermTopK(T.documents(s, dir), "doc_id", "text",
            terms = Seq("join", "window", "hash", "scan", "stream", "filter"),
            k1 = 1.2, b = 0.75, topK = 10)
          .select(col("term"), col("rank").cast(LongType).as("rank"),
            col("doc_id"), col("tf").cast(LongType).as("tf"),
            col("dl").cast(LongType).as("dl"), col("score"))
          .orderBy("term", "rank")
    },

    // ---- token-budgeted dataset mixture (beyond-parity): per-source
    // md5-ordered greedy prefixes under explicit token budgets — the "mix
    // 600 tokens of src0, 450 of src3, ..." step that assembles a training
    // corpus from weighted sources; unlisted sources contribute nothing.
    // The oracle spells it as a per-source window cumsum; the engine runs
    // the two-phase within-stratum distributed prefix sum (bucket partial
    // sums → broadcast offsets → 1/256-stratum windows) because one
    // reducer per source is a cliff when one source is half the lake
    // (SampleOps.budgetedMixture scaladoc). Integer-exact.
    q("q113_dataset_mixture",
      """WITH w AS (SELECT doc_id, source,
        |    len(string_split(trim(text), ' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tok
        |  FROM w),
        |b AS (SELECT * FROM (VALUES ('src0', 600), ('src3', 450),
        |       ('src7', 800), ('src12', 300), ('src15', 250),
        |       ('src19', 500)) v(source, budget))
        |SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
        |       cum_tok
        |FROM c JOIN b USING (source)
        |WHERE cum_tok - n_tok < budget
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      SampleOps.budgetedMixture(T.documents(s, dir), "doc_id", "source",
          size(TextOps.tokens(col("text"))),
          budgets = Map("src0" -> 600L, "src3" -> 450L, "src7" -> 800L,
            "src12" -> 300L, "src15" -> 250L, "src19" -> 500L))
        .select(col("doc_id"), col("stratum").as("source"), col("n_tok"),
          col("cum_tok"))
        .orderBy("doc_id")
    },

    // ---- exact n-gram containment (beyond-parity): ordered pairs where
    // ≥80% of doc A's 3-gram shingles appear in doc B — the asymmetric
    // dedup axis Jaccard misses (a short doc quoted verbatim inside a
    // long host dilutes the union but not the containment). Prefix filter
    // on the probe side against a full-postings index, one-sided length
    // filter, exact verify kernel; both joins bucketed equi-joins, never
    // a cross product (TextOps.ngramContainmentPairs scaladoc). Since
    // r11 the entry serves from the PERSISTED shingle index (build once
    // per (JVM, dir), like q76/q120): signatures, document frequencies,
    // and ranked postings read instead of rebuilt per sweep — the
    // recurring-dedup amortization VERDICT r10 #1 asked for; output
    // spec-pinned bit-identical to the in-memory spelling.
    q("q114_ngram_containment",
      s"""WITH sh AS (
         |  SELECT doc_id, $sqlShingles AS shingles
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |)
         |SELECT a.doc_id AS ida, b.doc_id AS idb,
         |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |    / len(a.shingles) AS containment
         |FROM sh a, sh b
         |WHERE a.doc_id != b.doc_id
         |  AND len(a.shingles) > 0 AND len(b.shingles) > 0
         |  AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |      >= 0.8 * len(a.shingles)
         |ORDER BY ida NULLS FIRST, idb NULLS FIRST""".stripMargin) {
      (s, dir) =>
        ShingleIndex.containmentSelf(s,
            shingleIndexFor(dir, T.documents(s, dir)), threshold = 0.8)
          .orderBy("ida", "idb")
    },

    // ---- batch-vs-index containment serve (ShingleIndex
    // .containmentAgainst — the sweep a RECURRING curation job runs:
    // tonight's batch probed against the persisted corpus index instead
    // of a full self-sweep). Batch = every 7th doc; the batch ranks its
    // shingles by the INDEX's df order (the mixed-ranking exactness
    // argument in the ShingleIndex scaladoc) and the postings scan prunes
    // to the probed buckets (PartitionFilters spec-asserted). Self-pairs
    // filtered on both sides — the gate models the steady-state sweep
    // where the batch is new, not already-indexed. 100×: batch serve
    // measured ~20× cheaper than the full sweep (STATUS r11 table).
    qm("q134_containment_batch",
      s"""WITH sh AS (
         |  SELECT doc_id, $sqlShingles AS shingles
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |)
         |SELECT a.doc_id AS ida, b.doc_id AS idb,
         |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |    / len(a.shingles) AS containment
         |FROM sh a, sh b
         |WHERE a.doc_id % 7 = 0 AND a.doc_id != b.doc_id
         |  AND len(a.shingles) > 0 AND len(b.shingles) > 0
         |  AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |      >= 0.8 * len(a.shingles)
         |ORDER BY ida NULLS FIRST, idb NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val docs = T.documents(s, dir)
        val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        ShingleIndex.containmentAgainst(s, shingleIndexFor(dir, docs),
            batch, "doc_id", "text", threshold = 0.8)
          .filter(col("ida") =!= col("idb"))
          .orderBy("ida", "idb")
    },

    // ---- incrementally-maintained similarity graph (SimGraphStore):
    // the q115/q125 edge list as a persisted store folded batch by batch
    // — 80% of the corpus as the base, every 5th doc as tonight's batch,
    // a semantic compaction between them (ledger fold + hot-postings
    // drop, crash-safe whole-store swap). The df cap makes the fold
    // NON-monotonic: shingles the batch pushes over the cap must RETRACT
    // support from pairs counted earlier (negative edge deltas — the
    // exactness argument in the SimGraphStore scaladoc, spec-pinned with
    // planted crossings). The oracle rebuilds from scratch over ALL
    // docs, so any retraction miscount hash-mismatches.
    qm("q136_simgraph_incremental",
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sqlShingles) AS s
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
         |p AS (SELECT doc_id, s FROM sh JOIN rare USING (s))
         |SELECT a.doc_id AS a, b.doc_id AS b
         |FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 2
         |ORDER BY a NULLS FIRST, b NULLS FIRST""".stripMargin) { (s, dir) =>
      import org.apache.hadoop.fs.Path
      val p = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-simstore-" + dir.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      graft.sources.ParquetCompaction.recover(s, p)
      val root = new Path(p)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true)
      val docs = T.documents(s, dir)
      SimGraphStore.init(s, p, n = 3, cap = 50L, minCommon = 2L)
      SimGraphStore.update(s, p,
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")
      SimGraphStore.compact(s, p)
      SimGraphStore.update(s, p,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text")
      SimGraphStore.edges(s, p).orderBy("a", "b")
    },

    // ---- SemDeDup-style semantic dedup (AnnOps.semDedup): embeddings
    // assigned to their nearest of 16 deterministic seed centroids (the
    // IVF coarse quantizer), then within-cluster cosine ≥ 0.3 flags
    // near-duplicates — removed = any vector with a lower-id near-dup in
    // its cluster, keep = the smallest such id. The quadratic work is
    // per-CLUSTER; the auto cell count max(16, ceil(N/1024)) keeps cell
    // occupancy (and so total pair volume) bounded — LINEAR in the
    // corpus — and resolves to exactly the oracle's 16 at every gate SF
    // (N <= 2000; the q50 occupancy-sizing discipline). Never
    // corpus × corpus. Output is integer-only; both engines share the
    // sequential-fold cosine.
    q("q137_semdedup",
      """WITH cent AS (
        |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
        |  ORDER BY vec_id LIMIT 16),
        |asg AS (
        |  SELECT nid, ne, cid FROM (
        |    SELECT e.vec_id AS nid, e.embedding AS ne, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                        CAST(c.ce AS DOUBLE[])) DESC,
        |                 c.cid) AS r
        |    FROM embeddings e, cent c) WHERE r = 1),
        |p AS (
        |  SELECT a.cid, a.nid AS a, b.nid AS b
        |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.nid < b.nid
        |  WHERE list_cosine_similarity(CAST(a.ne AS DOUBLE[]),
        |                               CAST(b.ne AS DOUBLE[])) >= 0.3)
        |SELECT cid, b AS removed, CAST(min(a) AS BIGINT) AS keep,
        |  CAST(count(*) AS BIGINT) AS n_better
        |FROM p GROUP BY cid, b
        |ORDER BY removed NULLS FIRST""".stripMargin) { (s, dir) =>
      AnnOps.semDedup(T.embeddings(s, dir), threshold = 0.3, dim = 64)
        .orderBy("removed")
    },

    // ---- SemDeDup over a TRAINED quantizer, deterministically (VERDICT
    // r12 #7): k-means|| is order-dependent float summation and can
    // never be oracled cross-engine, so the trained gate uses the
    // FIXED-POINT Lloyd quantizer (AnnOps.fixedPointCentroids): unit
    // vectors quantize to round(u·2^16) longs (the q126 discipline),
    // seeds init the cells, and every Lloyd update keeps centers as
    // EXACT integer coordinate sums (counts cancel out of cosine, so no
    // division ever happens) — all state is int64-exact and the oracle
    // replays both rounds, the final assignment, and the within-cell
    // exact-cosine pair stage from the raw parquet. Partitioning
    // invariance (int adds commute) is spec-pinned.
    q("q146_semdedup_trained_fp", {
      val asg1 = fpAssignSql("c0", "a1")
      val upd1 = fpUpdateSql("a1", "c0", "c1")
      val asg2 = fpAssignSql("c1", "a2")
      val upd2 = fpUpdateSql("a2", "c1", "c2")
      val asgF = fpAssignSql("c2", "af")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |uq AS (
         |  SELECT vec_id,
         |    [CAST(round(x * (1.0 / sqrt(list_sum([y * y for y in e])))
         |       * 65536) AS BIGINT) for x in e] AS qv
         |  FROM e),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, qv AS s
         |  FROM (SELECT vec_id, qv FROM uq ORDER BY vec_id LIMIT 16)),
         |$asg1,
         |$upd1,
         |$asg2,
         |$upd2,
         |$asgF,
         |p AS (
         |  SELECT a.j, a.vec_id AS a, b.vec_id AS b
         |  FROM af a JOIN af b ON a.j = b.j AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id
         |  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |                               CAST(eb.embedding AS DOUBLE[]))
         |        >= 0.3)
         |SELECT CAST(j AS BIGINT) AS cid, b AS removed,
         |  CAST(min(a) AS BIGINT) AS keep,
         |  CAST(count(*) AS BIGINT) AS n_better
         |FROM p GROUP BY j, b
         |ORDER BY removed NULLS FIRST""".stripMargin
    }) { (s, dir) =>
      AnnOps.semDedupTrainedFP(T.embeddings(s, dir), threshold = 0.3,
        dim = 64, k = 16, rounds = 2).orderBy("removed")
    },

    // ---- hybrid retrieval with reciprocal-rank fusion (Retrieval): the
    // positive/negative-mining shape — a lexical ranking (top-20 by shared
    // DISTINCT rare tokens, df ≤ 50, the posting-join discipline) and a
    // dense ranking (exact cosine top-20, the q49 kernel) fused by
    // rrf = Σ 1/(60 + rank), top-5 per query. The addends are exact IEEE
    // divisions of small integers summed in a fixed order, so the fused
    // score matches bit-for-bit; ranks re-derive from it with id
    // tie-breaks. documents and embeddings share the id space by
    // construction (TESTDATA.md).
    q("q138_hybrid_rrf",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct($sqlToks)) AS t FROM documents),
         |rare AS (SELECT t FROM tok GROUP BY t HAVING count(*) <= 50),
         |qpost AS (SELECT doc_id, t FROM tok JOIN rare USING (t)
         |          WHERE doc_id < 10),
         |lex AS (
         |  SELECT qid, nid, ra FROM (
         |    SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid
         |        ORDER BY score DESC, nid) AS BIGINT) AS ra
         |    FROM (SELECT q.doc_id AS qid, p.doc_id AS nid,
         |            count(*) AS score
         |          FROM qpost q JOIN tok p USING (t)
         |          WHERE p.doc_id != q.doc_id
         |          GROUP BY 1, 2)) WHERE ra <= 20),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id < 10),
         |dense AS (
         |  SELECT qid, nid, rb FROM (
         |    SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid
         |        ORDER BY cos DESC, nid) AS BIGINT) AS rb
         |    FROM (SELECT q.qid, e.vec_id AS nid,
         |            list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
         |              CAST(e.embedding AS DOUBLE[])) AS cos
         |          FROM q, embeddings e WHERE e.vec_id != q.qid))
         |  WHERE rb <= 20),
         |fused AS (
         |  SELECT coalesce(l.qid, d.qid) AS qid, coalesce(l.nid, d.nid) AS nid,
         |    round(coalesce(CAST(1 AS DOUBLE) / (60 + l.ra), CAST(0 AS DOUBLE))
         |        + coalesce(CAST(1 AS DOUBLE) / (60 + d.rb), CAST(0 AS DOUBLE)),
         |      6) AS rrf
         |  FROM lex l FULL OUTER JOIN dense d
         |    ON l.qid = d.qid AND l.nid = d.nid)
         |SELECT qid, rk, nid, rrf FROM (
         |  SELECT qid, nid, rrf, CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY rrf DESC, nid) AS BIGINT) AS rk
         |  FROM fused) WHERE rk <= 5
         |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = T.documents(s, dir)
      val emb = T.embeddings(s, dir)
      val lex = Retrieval.sharedRareTokenTopK(docs,
        docs.filter(col("doc_id") < 10), "doc_id", "text", k = 20, dfCap = 50L)
      val dense = AnnOps.topKForQueries(emb, emb.filter(col("vec_id") < 10), 20)
      Retrieval.rrfFuse(lex, dense, k = 5).orderBy("qid", "rk")
    },

    // ---- Bloom-filter dedup against a history corpus
    // (TextOps.dedupAgainstHistory): which batch docs (doc_id % 3 = 0)
    // already exist — by token-set fingerprint — in the history (the
    // other two thirds). The history folds into ONE native-aggregate
    // Bloom filter (only filter-sized buffers cross the shuffle), the
    // batch probes it map-side (pure Column bit tests), and hits
    // re-verify exactly — no false negatives by construction, so the
    // output is EXACT and the oracle is the plain semi-join the filter
    // merely accelerates.
    q("q139_bloom_history_dedup",
      s"""WITH fp AS (
         |  SELECT doc_id,
         |    md5(array_to_string(list_sort(list_distinct($sqlToks)), ' ')) AS fp
         |  FROM documents)
         |SELECT b.doc_id FROM fp b
         |WHERE b.doc_id % 3 = 0
         |  AND EXISTS (SELECT 1 FROM fp h
         |              WHERE h.doc_id % 3 != 0 AND h.fp = b.fp)
         |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = T.documents(s, dir)
      TextOps.dedupAgainstHistory(
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---- incremental shingle-index append (ShingleIndex.appendToIndex —
    // VERDICT r11 #1): the nightly cycle that keeps the containment index
    // LIVE instead of decaying — build on 80% of the corpus, fold the
    // remaining 20% in as a committed epoch, then run the full self-sweep
    // from the two-epoch index. The oracle rebuilds from scratch over ALL
    // docs, so base+append must equal a full rebuild bit-identically:
    // any rank-staleness error in the cross-epoch candidate pruning (the
    // per-epoch positional-filter guard, ShingleIndex scaladoc) or any
    // df-delta miscount would drop/invent a pair and hash-mismatch.
    qm("q140_shingle_index_append",
      s"""WITH sh AS (
         |  SELECT doc_id, $sqlShingles AS shingles
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |)
         |SELECT a.doc_id AS ida, b.doc_id AS idb,
         |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |    / len(a.shingles) AS containment
         |FROM sh a, sh b
         |WHERE a.doc_id != b.doc_id
         |  AND len(a.shingles) > 0 AND len(b.shingles) > 0
         |  AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |      >= 0.8 * len(a.shingles)
         |ORDER BY ida NULLS FIRST, idb NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          "graft-shappend-" + dir.replaceAll("[^A-Za-z0-9]", "_"))
          .getAbsolutePath
        graft.sources.ParquetCompaction.recover(s, p)
        val root = new org.apache.hadoop.fs.Path(p)
        val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(root)) fs.delete(root, true)
        val docs = T.documents(s, dir)
        ShingleIndex.build(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          "doc_id", "text", p, n = 3, nBuckets = 64)
        ShingleIndex.appendToIndex(s, p,
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text")
        ShingleIndex.containmentSelf(s, p, threshold = 0.8)
          .orderBy("ida", "idb")
    },

    // ---- persisted Bloom history store (BloomHistory — VERDICT r11 #3):
    // the q139 filter as a STORE a nightly job keeps — history folds in
    // over TWO incremental appends (Bloom union is exact, so the split is
    // invisible), then the batch probes the stored filter and hits
    // re-verify exactly. Oracle = the same plain semi-join as q139: any
    // fold/merge/commit error that loses a bit could drop a true dup and
    // hash-mismatch (false positives are verified away by construction).
    qm("q141_bloom_history_store",
      s"""WITH fp AS (
         |  SELECT doc_id,
         |    md5(array_to_string(list_sort(list_distinct($sqlToks)), ' ')) AS fp
         |  FROM documents)
         |SELECT b.doc_id FROM fp b
         |WHERE b.doc_id % 3 = 0
         |  AND EXISTS (SELECT 1 FROM fp h
         |              WHERE h.doc_id % 3 != 0 AND h.fp = b.fp)
         |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val p = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-bloomstore-" + dir.replaceAll("[^A-Za-z0-9]", "_"))
        .getAbsolutePath
      graft.sources.ParquetCompaction.recover(s, p)
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true)
      val docs = T.documents(s, dir)
      val history = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      BloomHistory.init(s, p)
      BloomHistory.append(s, p, history.filter(col("doc_id") % 2 === 0), "text")
      BloomHistory.append(s, p, history.filter(col("doc_id") % 2 =!= 0), "text")
      BloomHistory.dedupFromStore(s, p,
          docs.filter(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---- hybrid retrieval served from the PERSISTED indexes (VERDICT
    // r11 #2): q138's shape with neither side touching the corpus — the
    // lexical ranking reads the q120 inverted text index (df and
    // postings partition-pruned to the query terms' buckets,
    // PlanSpec-asserted; bit-identical to the in-memory kernel because
    // the index's df IS the distinct-token df) and the dense ranking
    // reads the q76 partition-pruned IVF index (seed centroids, so the
    // oracle rebuilds the identical index — the q57 discipline; nProbe=2
    // of 16 cells, the honest serving path: candidates come from probed
    // cells only, which the oracle models exactly). rrfFuse unchanged.
    q("q142_hybrid_rrf_indexed",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct($sqlToks)) AS t FROM documents),
         |rare AS (SELECT t FROM tok GROUP BY t HAVING count(*) <= 50),
         |qpost AS (SELECT doc_id, t FROM tok JOIN rare USING (t)
         |          WHERE doc_id < 10),
         |lex AS (
         |  SELECT qid, nid, ra FROM (
         |    SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid
         |        ORDER BY score DESC, nid) AS BIGINT) AS ra
         |    FROM (SELECT q.doc_id AS qid, p.doc_id AS nid,
         |            count(*) AS score
         |          FROM qpost q JOIN tok p USING (t)
         |          WHERE p.doc_id != q.doc_id
         |          GROUP BY 1, 2)) WHERE ra <= 20),
         |cent AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  ORDER BY vec_id LIMIT 16),
         |asg AS (
         |  SELECT nid, ne, cid FROM (
         |    SELECT e.vec_id AS nid, e.embedding AS ne, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                                        CAST(c.ce AS DOUBLE[])) DESC,
         |                 c.cid) AS r
         |    FROM embeddings e, cent c) WHERE r = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id < 10),
         |probe AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
         |                                        CAST(c.ce AS DOUBLE[])) DESC,
         |                 c.cid) AS r
         |    FROM q, cent c) WHERE r <= 2),
         |pd AS (
         |  SELECT pr.qid, a.nid,
         |    list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
         |                           CAST(a.ne AS DOUBLE[])) AS cos
         |  FROM probe pr JOIN asg a USING (cid) JOIN q USING (qid)
         |  WHERE a.nid != pr.qid),
         |dense AS (
         |  SELECT qid, nid, rb FROM (
         |    SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid
         |        ORDER BY cos DESC, nid) AS BIGINT) AS rb
         |    FROM pd) WHERE rb <= 20),
         |fused AS (
         |  SELECT coalesce(l.qid, d.qid) AS qid, coalesce(l.nid, d.nid) AS nid,
         |    round(coalesce(CAST(1 AS DOUBLE) / (60 + l.ra), CAST(0 AS DOUBLE))
         |        + coalesce(CAST(1 AS DOUBLE) / (60 + d.rb), CAST(0 AS DOUBLE)),
         |      6) AS rrf
         |  FROM lex l FULL OUTER JOIN dense d
         |    ON l.qid = d.qid AND l.nid = d.nid)
         |SELECT qid, rk, nid, rrf FROM (
         |  SELECT qid, nid, rrf, CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY rrf DESC, nid) AS BIGINT) AS rk
         |  FROM fused) WHERE rk <= 5
         |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = T.documents(s, dir)
      val emb = T.embeddings(s, dir)
      val lex = Retrieval.sharedRareTokenTopKFromIndex(s,
        textIndexFor(dir, docs), docs.filter(col("doc_id") < 10),
        "doc_id", "text", k = 20, dfCap = 50L)
      val dense = AnnOps.ivfTopKFromIndex(s, ivfIndexFor(dir, emb),
        emb.filter(col("vec_id") < 10), k = 20, dim = 64, nProbe = 2)
      Retrieval.rrfFuse(lex, dense, k = 5).orderBy("qid", "rk")
    },

    // ---- the COMPRESSED hybrid (VERDICT r12 #4): q142's shape with the
    // dense side served from the persisted IVF-PQ index at 8 B/vector —
    // the spelling for when index I/O dominates. The index is the
    // DETERMINISTIC build (seed cells unit-normalized in doubles, zero
    // residual means, md5 hash codebooks — the q107 discipline), so the
    // oracle rebuilds codebooks, unit vectors, cell routing, encoding,
    // per-query ADC tables, and the fused ranking from the same parquet;
    // any packing, pruning, or ADC error hash-mismatches. The probed-cid
    // partition pruning on the cells scan is PlanSpec-asserted
    // (AnnOps.ivfPqProbedCells).
    q("q145_hybrid_rrf_pq_indexed",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct($sqlToks)) AS t FROM documents),
         |rare AS (SELECT t FROM tok GROUP BY t HAVING count(*) <= 50),
         |qpost AS (SELECT doc_id, t FROM tok JOIN rare USING (t)
         |          WHERE doc_id < 10),
         |lex AS (
         |  SELECT qid, nid, ra FROM (
         |    SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid
         |        ORDER BY score DESC, nid) AS BIGINT) AS ra
         |    FROM (SELECT q.doc_id AS qid, p.doc_id AS nid,
         |            count(*) AS score
         |          FROM qpost q JOIN tok p USING (t)
         |          WHERE p.doc_id != q.doc_id
         |          GROUP BY 1, 2)) WHERE ra <= 20),
         |cb AS (
         |  SELECT j, c,
         |    [(list_sum([(strpos('0123456789abcdef',
         |        substr(md5('pq:' || CAST((j*16 + c)*8 + t + 1 AS VARCHAR)),
         |          d, 1)) - 1) * power(16.0, 8 - d) for d in range(1, 9)])
         |      / 2147483648.0 - 1) for t in range(0, 8)] AS cv
         |  FROM range(0, 8) tj(j), range(0, 16) tc(c)),
         |ue AS (
         |  SELECT vec_id,
         |    [x * (1.0 / sqrt(list_sum([y * y for y in e]))) for x in e] AS u
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |        FROM embeddings)),
         |cent AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  ORDER BY vec_id LIMIT 16),
         |asgc AS (
         |  SELECT nid, cid FROM (
         |    SELECT e.vec_id AS nid, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                                        CAST(c.ce AS DOUBLE[])) DESC,
         |                 c.cid) AS r
         |    FROM embeddings e, cent c) WHERE r = 1),
         |enc AS (
         |  SELECT vec_id, j, c AS code FROM (
         |    SELECT vec_id, j, c,
         |      row_number() OVER (PARTITION BY vec_id, j
         |        ORDER BY d2v, c) AS rn
         |    FROM (SELECT s.vec_id, s.j, cb.c,
         |            list_sum([(s.u[s.j*8 + t + 1] - cb.cv[t + 1])
         |              * (s.u[s.j*8 + t + 1] - cb.cv[t + 1])
         |              for t in range(0, 8)]) AS d2v
         |          FROM (SELECT vec_id, u, j
         |                FROM ue CROSS JOIN range(0, 8) tj(j)) s
         |          JOIN cb USING (j)))
         |  WHERE rn = 1),
         |qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |       WHERE vec_id < 10),
         |qprobe AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.qid, c.cid,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
         |                                        CAST(c.ce AS DOUBLE[])) DESC,
         |                 c.cid) AS r
         |    FROM qv q, cent c) WHERE r <= 2),
         |qtab AS (
         |  SELECT s.qid, s.j, cb.c,
         |    list_sum([(s.u[s.j*8 + t + 1] - cb.cv[t + 1])
         |      * (s.u[s.j*8 + t + 1] - cb.cv[t + 1])
         |      for t in range(0, 8)]) AS d2
         |  FROM (SELECT ue.vec_id AS qid, ue.u, j
         |        FROM ue JOIN qv ON qv.qid = ue.vec_id
         |        CROSS JOIN range(0, 8) tj(j)) s
         |  JOIN cb USING (j)),
         |scored AS (
         |  SELECT p.qid, a.nid, list_sum(list(t.d2 ORDER BY t.j)) AS dist
         |  FROM qprobe p JOIN asgc a USING (cid)
         |       JOIN enc e ON e.vec_id = a.nid
         |       JOIN qtab t ON t.qid = p.qid AND t.j = e.j AND t.c = e.code
         |  WHERE a.nid != p.qid
         |  GROUP BY p.qid, a.nid),
         |dense AS (
         |  SELECT qid, nid, rb FROM (
         |    SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid
         |        ORDER BY dist, nid) AS BIGINT) AS rb
         |    FROM scored) WHERE rb <= 20),
         |fused AS (
         |  SELECT coalesce(l.qid, d.qid) AS qid, coalesce(l.nid, d.nid) AS nid,
         |    round(coalesce(CAST(1 AS DOUBLE) / (60 + l.ra), CAST(0 AS DOUBLE))
         |        + coalesce(CAST(1 AS DOUBLE) / (60 + d.rb), CAST(0 AS DOUBLE)),
         |      6) AS rrf
         |  FROM lex l FULL OUTER JOIN dense d
         |    ON l.qid = d.qid AND l.nid = d.nid)
         |SELECT qid, rk, nid, rrf FROM (
         |  SELECT qid, nid, rrf, CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY rrf DESC, nid) AS BIGINT) AS rk
         |  FROM fused) WHERE rk <= 5
         |ORDER BY qid NULLS FIRST, rk NULLS FIRST""".stripMargin) { (s, dir) =>
      val docs = T.documents(s, dir)
      val emb = T.embeddings(s, dir)
      val lex = Retrieval.sharedRareTokenTopKFromIndex(s,
        textIndexFor(dir, docs), docs.filter(col("doc_id") < 10),
        "doc_id", "text", k = 20, dfCap = 50L)
      val dense = AnnOps.ivfPqTopKFromIndex(s, ivfPqIndexFor(dir, emb),
        emb.filter(col("vec_id") < 10), k = 20, nProbe = 2)
      Retrieval.rrfFuse(lex, dense, k = 5).orderBy("qid", "rk")
    },

    // ---- STREAMING similarity-graph maintenance under the gate (VERDICT
    // r11 #8: StreamingSimGraph was spec-verified only): a real file
    // stream folds two document slices into the store (one file per
    // micro-batch, engine batch ids as commit ids), a SEMANTIC COMPACTION
    // runs in the maintenance slot, the third slice arrives and the SAME
    // checkpoint resumes folding — the full nightly lifecycle. The oracle
    // rebuilds the graph from scratch over ALL docs, so any replay skip,
    // compaction loss, or post-compaction id clash hash-mismatches (the
    // store's exactness property makes the final graph independent of the
    // micro-batch split).
    qm("q143_streaming_simgraph",
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sqlShingles) AS s
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
         |p AS (SELECT doc_id, s FROM sh JOIN rare USING (s))
         |SELECT a.doc_id AS a, b.doc_id AS b
         |FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 2
         |ORDER BY a NULLS FIRST, b NULLS FIRST""".stripMargin) { (s, dir) =>
      import org.apache.hadoop.fs.Path
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-simstream-" + tag).getAbsolutePath
      val (src, store, ck) = (s"$base/src", s"$base/store", s"$base/ck")
      graft.sources.ParquetCompaction.recover(s, store)
      val fs = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(new Path(base))) fs.delete(new Path(base), true)
      val docs = T.documents(s, dir)
      // stage each slice as one file: the file source delivers one file
      // per AvailableNow trigger = one deterministic micro-batch
      def stage(slice: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val tmp = s"$base/stage-$name"
        slice.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new Path(tmp)).map(_.getPath)
          .find(_.getName.endsWith(".parquet")).get
        fs.mkdirs(new Path(src))
        fs.rename(part, new Path(src, s"$name.parquet"))
        fs.delete(new Path(tmp), true)
      }
      stage(docs.filter(pmod(col("doc_id"), lit(3)) === 0), "b0")
      stage(docs.filter(pmod(col("doc_id"), lit(3)) === 1), "b1")
      SimGraphStore.init(s, store, n = 3, cap = 50L, minCommon = 2L)
      graft.streaming.StreamingSimGraph.run(s, src, store, ck)
      SimGraphStore.compact(s, store) // the between-batches maintenance slot
      stage(docs.filter(pmod(col("doc_id"), lit(3)) === 2), "b2")
      graft.streaming.StreamingSimGraph.run(s, src, store, ck)
      SimGraphStore.edges(s, store).orderBy("a", "b")
    },

    // ---- the CAPSTONE: the store-backed nightly curation cycle,
    // end-to-end (NightlyCuration — VERDICT r12 #1). All five persisted
    // stores bootstrap from the history lake, tonight's batch runs the
    // admission gate (quality → Bloom exact-dup probe with exact verify →
    // shingle-index containment sweep), and the ADMITTED docs fold into
    // every store via its incremental append path. The output then SERVES
    // from every post-append store: the admitted set itself, a Bloom
    // re-probe of the batch (now hitting the appended docs), a
    // containment probe slice, BM25 top-k, an IVF top-k, and the
    // similarity graph's edges — each tagged into one (part, a, b, v)
    // frame. The oracle recomputes THE WHOLE PIPELINE from scratch over
    // history ∪ admitted (each store's append == rebuild exactness makes
    // the composed split invisible); any admission error, lost append,
    // or stale serve hash-mismatches.
    qm("q144_nightly_curation_stores", nightlyCurationOracle)(
      (s, dir) => nightlyCurationGate(s, dir, "capstone",
        maintain = false)),

    // ---- the maintenance slot, DRIVER-GATED (q147): the identical
    // nightly cycle, but between the appends and the serves every
    // operational dial is forced to trip (NightlyCuration.maintenance
    // with zero thresholds): shingle + graph compactions, text + IVF
    // small-files compactions, and the Bloom rebuild at doubled mBits.
    // Every action claims to preserve serving exactly, so the oracle is
    // the SAME from-scratch pipeline as q144 — a maintenance bug in any
    // store is a hash mismatch here while q144 stays green, isolating
    // the fault to the slot.
    qm("q147_maintenance_slot", nightlyCurationOracle)(
      (s, dir) => nightlyCurationGate(s, dir, "maintslot",
        maintain = true)),

    // ---- the STREAMED nightly cycle (q152): tonight's feed arrives as
    // a real file stream (three slices over two stream starts — the
    // available slices batch into one trigger, the late slice resumes
    // the same checkpoint), each micro-batch staged through the
    // admission gate into a marker-committed manifest, and ONE
    // end-of-night fold appends the union into all five stores
    // (StreamingNightlyCuration). Admission reads only pre-night store
    // state (NightlyCuration.admit never checks batch-vs-batch), so the
    // staged union equals the batch cycle's admitted set for ANY
    // micro-batch split — the oracle is q144's from-scratch pipeline
    // VERBATIM, and any split-dependence, staging loss, replay
    // double-fold, or manifest-retirement bug hash-mismatches here
    // while q144 stays green.
    qm("q152_streaming_nightly_curation", nightlyCurationOracle)(
      (s, dir) => nightlyCurationGate(s, dir, "nightstream",
        maintain = false, streamed = true)),

    // ---- the CONTINUOUS night's determinism boundary, DRIVER-GATED
    // (VERDICT r13 #6): runContinuous's result is split-dependent by
    // design (later slices dedup against earlier folds), so the mode as
    // a whole is spec-pinned — but under a FIXED slice schedule its
    // admitted_log lake-delta record IS deterministic: night i admits
    // against history ∪ nights < i. The oracle unrolls exactly that —
    // three sequential q144 admission nights, each against the grown
    // lake — so a fold that leaks mid-night state into admission, a
    // night attributed to the wrong commit id, or a lost/duplicated
    // admitted row all hash-mismatch here while q152 stays green.
    qm("q157_continuous_night_log", continuousNightOracle) { (s, dir) =>
      import org.apache.hadoop.fs.Path
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-contnight-" + dir.replaceAll("[^A-Za-z0-9]", "_"))
        .getAbsolutePath
      val stores = NightlyCuration.Stores(root)
      val fs = new Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val docs = T.documents(s, dir)
      val emb = T.embeddings(s, dir)
      NightlyBootCache.copyTo(s, dir, root)
      // the fixed schedule: slice b = doc_id % 9 == 3b, one file each,
      // drained in order by a real AvailableNow stream
      val src = s"$root/feed"
      (0 until 3).foreach { b =>
        val tmp = s"$root/feed-stage-$b"
        docs.filter(pmod(col("doc_id"), lit(9)) === 3 * b)
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new Path(tmp)).map(_.getPath)
          .find(_.getName.endsWith(".parquet")).get
        fs.mkdirs(new Path(src))
        fs.rename(part, new Path(src, s"b$b.parquet"))
        fs.delete(new Path(tmp), true)
      }
      graft.streaming.StreamingNightlyCuration.runContinuous(s, src,
        stores, emb, s"$root/ck")
      graft.streaming.StreamingNightlyCuration.admittedLog(s, stores)
        .select(col("doc_id"), col("night"))
        .orderBy("doc_id")
    },

    // ---- per-node triangle counts on the doc-similarity graph (edges =
    // pairs sharing ≥2 distinct DISTINCTIVE 3-gram shingles, df ≤ 50):
    // the community-structure signal dedup clustering (q60) doesn't
    // expose — a doc in many triangles sits in a dense template family.
    // The df cap is the standard stop-shingle cut AND the scale guard:
    // without it the postings self-join pays df² on every boilerplate
    // shingle (measured 7.3 s of the entry's 9.9 s at sf0.1; 1.9 s with
    // the cap), and a shingle in half the corpus says nothing about
    // similarity anyway. Degree-ordered orientation bounds wedge fan-out
    // by ~√|E| instead of the hub degree and finds each triangle exactly
    // once (GraphAlgos.triangleCounts scaladoc); the oracle brute-forces
    // E³ over the x<y<z chain.
    q("q115_triangle_count",
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sqlShingles) AS s
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
         |p AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
         |E AS (SELECT a.doc_id AS a, b.doc_id AS b
         |      FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
         |      GROUP BY a.doc_id, b.doc_id
         |      HAVING count(*) >= 2),
         |T AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |      FROM E e1 JOIN E e2 ON e2.a = e1.b
         |                JOIN E e3 ON e3.a = e1.a AND e3.b = e2.b),
         |n AS (SELECT x AS v FROM T UNION ALL SELECT y FROM T
         |      UNION ALL SELECT z FROM T)
         |SELECT v AS doc_id, count(*) AS n_tri FROM n GROUP BY v
         |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      graft.relational.GraphAlgos.triangleCounts(simGraphFor(s, dir))
        .select(col("v").as("doc_id"), col("n_tri"))
        .orderBy("doc_id")
    },

    // ---- bounded-round k-core peeling over the same doc-similarity
    // graph (GraphAlgos.kCore scaladoc: each round one degree partial-agg
    // + two shrinking equi-joins; bit-equal to the oracle's 4 unrolled
    // peel CTEs whether or not the peel converges early, because a
    // fixpoint is stable under further rounds). The surviving dense cores
    // are near-dup template families; core_deg ranks how embedded each
    // doc is.
    q("q125_kcore", {
      val peels = (1 to 4).map { r =>
        s"""d$r AS (SELECT v, count(*) AS dg FROM (
           |    SELECT a AS v FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
           |  GROUP BY v),
           |k$r AS (SELECT v FROM d$r WHERE dg >= 4),
           |e$r AS (SELECT e${r - 1}.a, e${r - 1}.b FROM e${r - 1}
           |  JOIN k$r x ON e${r - 1}.a = x.v
           |  JOIN k$r y ON e${r - 1}.b = y.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH sh AS (
         |  SELECT doc_id, unnest($sqlShingles) AS s
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
         |p AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
         |e0 AS (SELECT a.doc_id AS a, b.doc_id AS b
         |      FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
         |      GROUP BY a.doc_id, b.doc_id
         |      HAVING count(*) >= 2),
         |$peels
         |SELECT v AS doc_id, count(*) AS core_deg FROM (
         |  SELECT a AS v FROM e4 UNION ALL SELECT b FROM e4) GROUP BY v
         |ORDER BY doc_id NULLS FIRST""".stripMargin
    }) { (s, dir) =>
      graft.relational.GraphAlgos.kCore(simGraphFor(s, dir),
          k = 4, maxRounds = 4)
        .select(col("v").as("doc_id"), col("core_deg"))
        .orderBy("doc_id")
    },

    // ---- bigram LM quality scoring (beyond-parity): the CCNet/KenLM
    // perplexity-filter skeleton — train an add-one-smoothed bigram LM on
    // the corpus, score each doc by mean bigram log-probability. The only
    // shuffles are the Zipf-sublinear unigram/bigram count tables; each
    // bigram's log-prob is rounded and scaled to a LONG before the per-doc
    // sum, so partial-agg order cannot move a bit (a raw double sum could
    // never hash-match the oracle — TextOps.bigramLmDocScores scaladoc).
    q("q117_lm_quality",
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |             FROM documents),
        |uni AS (SELECT t AS w1, count(*) AS c1
        |        FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY t),
        |v AS (SELECT count(*) AS vsz FROM uni),
        |pos AS (SELECT doc_id, toks,
        |          unnest(generate_series(1, len(toks) - 1)) AS i
        |        FROM tok WHERE len(toks) >= 2),
        |big AS (SELECT doc_id, list_extract(toks, i) AS w1,
        |          list_extract(toks, i + 1) AS w2 FROM pos),
        |bc AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
        |term AS (SELECT doc_id,
        |    CAST(round(ln((c2 + 1.0) / (c1 + vsz)) * 1000000) AS BIGINT) AS t
        |  FROM big JOIN bc USING (w1, w2) JOIN uni USING (w1), v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(t) AS DOUBLE) / (1000000.0 * count(*)), 6)
        |    AS avg_logprob
        |FROM term GROUP BY doc_id
        |ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      TextOps.bigramLmDocScores(T.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---- BM25 served from a PERSISTED inverted index (beyond-parity):
    // the retrieval counterpart of q76's persisted IVF — the corpus-sized
    // tokenize/aggregate shuffle is paid once at build, every query batch
    // then reads only the term-bucket partitions its terms hash into
    // (explicit tb partition filter, PlanSpec-asserted) plus the broadcast
    // ≤|terms| df rows; dl is denormalized into the postings row so
    // serving does zero doc-table joins (TextIndex scaladoc). The oracle
    // recomputes the identical scores from the raw corpus.
    q("q120_bm25_index",
      """WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |             FROM documents),
        |d AS (SELECT doc_id, toks, len(toks) AS dl FROM tok),
        |c AS (SELECT count(*) AS n_docs,
        |        CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM tok),
        |t AS (SELECT unnest(['sort','merge','group','batch','vector'])
        |        AS term),
        |m AS (SELECT doc_id, dl, term,
        |        len(list_filter(toks, x -> x = term)) AS tf
        |      FROM d CROSS JOIN t),
        |mm AS (SELECT * FROM m WHERE tf > 0),
        |df AS (SELECT term, count(*) AS dfc FROM mm GROUP BY term),
        |s AS (SELECT term, doc_id, tf, dl,
        |        round(ln((n_docs - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |          * (tf * (1.2 + 1.0))
        |          / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS score
        |      FROM mm JOIN df USING (term), c),
        |r AS (SELECT term, doc_id, tf, dl, score,
        |        ROW_NUMBER() OVER (PARTITION BY term
        |          ORDER BY score DESC, doc_id) AS rank FROM s)
        |SELECT term, rank, doc_id, CAST(tf AS BIGINT) AS tf,
        |       CAST(dl AS BIGINT) AS dl, score
        |FROM r WHERE rank <= 10
        |ORDER BY term NULLS FIRST, rank NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val path = textIndexFor(dir, T.documents(s, dir))
        TextIndex.bm25FromIndex(s, path,
            terms = Seq("sort", "merge", "group", "batch", "vector"),
            k1 = 1.2, b = 0.75, topK = 10)
          .select(col("term"), col("rank").cast(LongType).as("rank"),
            col("doc_id"), col("tf").cast(LongType).as("tf"),
            col("dl").cast(LongType).as("dl"), col("score"))
          .orderBy("term", "rank")
    },

    // ---- end-to-end curation pipeline (beyond-parity): quality gate →
    // exact-dedup canonical selection → deterministic 50% sample → token-
    // budget sharding, COMPOSED from the catalog's own operators (q46/q44/
    // q84/q93 machinery) — the "documents in, training shards out" path a
    // user actually runs, as ONE lazy plan. Every stage is integer-exact
    // and hash-reproducible; the only corpus-sized shuffles are the dedup
    // fingerprint window and the two-phase prefix sum (no global window —
    // SampleOps.packIntoShards scaladoc).
    q("q121_curation_pipeline",
      """WITH tok AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks
        |             FROM documents),
        |q AS (SELECT doc_id, text, len(toks) AS n_tok,
        |        md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
        |      FROM tok
        |      WHERE len(toks) >= 8
        |        AND len(list_distinct(toks)) >= 0.3 * len(toks)),
        |canon AS (SELECT doc_id, n_tok FROM (
        |    SELECT doc_id, n_tok, ROW_NUMBER() OVER (PARTITION BY fp
        |      ORDER BY length(text) DESC, doc_id) AS rn FROM q)
        |  WHERE rn = 1),
        |samp AS (SELECT doc_id, n_tok FROM canon
        |         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'),
        |packed AS (SELECT doc_id, n_tok,
        |    CAST(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tok
        |  FROM samp)
        |SELECT doc_id, n_tok, cum_tok,
        |       CAST((greatest(cum_tok, 1) - 1) // 512 AS BIGINT) AS shard
        |FROM packed ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val toks = TextOps.tokens(col("text"))
      val q = T.documents(s, dir)
        .select(col("doc_id"), col("text"), size(toks).as("n_tok"),
          size(array_distinct(toks)).as("n_uniq"))
        .filter(col("n_tok") >= 8 &&
          col("n_uniq") >= lit(0.3) * col("n_tok"))
      val canon = TextOps.canonicalDocs(q, "doc_id", "text").select("doc_id")
      val samp = q.join(canon, "doc_id")
        .filter(SampleOps.hashBucket(col("doc_id")) <
          lit(SampleOps.rateThreshold(0.5)))
        .select("doc_id", "n_tok")
      SampleOps.packIntoShards(samp, "doc_id", col("n_tok"), budget = 512L)
        .orderBy("doc_id")
    },

    // ---- embedding second moments (EmbedStats scaladoc): ONE corpus
    // pass reduces to a metadata-sized integer accumulator (n, Σq_i,
    // Σq_iq_j upper triangle — ~17 KB at d=64) via treeAggregate; the
    // PCA eigen step downstream is driver-sized. Coordinates quantize to
    // round(x·2¹⁶) longs BEFORE accumulation, so the sums are exact under
    // any partitioning and the oracle reproduces them digit-for-digit —
    // the whitening statistics a similarity pipeline trains before PQ/IVF.
    q("q126_embed_covariance",
      """WITH u AS (
        |  SELECT vec_id, r - 1 AS i,
        |    CAST(round(CAST(embedding[r] AS DOUBLE) * 65536) AS BIGINT) AS q
        |  FROM embeddings, generate_series(1, 64) t(r)),
        |n AS (SELECT count(*) AS n FROM embeddings),
        |s AS (SELECT i, CAST(sum(q) AS BIGINT) AS s FROM u GROUP BY i),
        |d AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS dot
        |      FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
        |      GROUP BY a.i, b.i)
        |SELECT d.i, d.j, n.n, si.s AS si, sj.s AS sj, d.dot
        |FROM d, n JOIN s si ON si.i = d.i JOIN s sj ON sj.i = d.j
        |ORDER BY d.i NULLS FIRST, d.j NULLS FIRST""".stripMargin) { (s, dir) =>
      EmbedStats.secondMoments(T.embeddings(s, dir), "embedding", dim = 64)
        .orderBy("i", "j")
    },

    // ---- deterministic weighted sample (SampleOps.weightedSample
    // scaladoc: Efraimidis–Spirakis A-Res as an order statistic, md5-
    // derived u, 6-decimal key rounding + id tie-break → engine-identical
    // selection; plans as TakeOrderedAndProject — per-partition top-n,
    // no corpus shuffle). Weight = token count: longer docs
    // proportionally likelier, the "sample by length/quality" op.
    q("q128_weighted_sample", {
      val digitFold = (0 until 15).map { i =>
        val w = BigInt(16).pow(14 - i)
        s"CAST(strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1 AS BIGINT) * $w"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, len($sqlToks) AS n_tok,
         |             md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |k AS (SELECT doc_id, n_tok,
         |        round(ln((CAST($digitFold AS DOUBLE) + 1.0)
         |                 / 1152921504606846976.0) / n_tok, 6) AS wkey
         |      FROM t WHERE n_tok > 0)
         |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, wkey FROM k
         |ORDER BY wkey DESC, doc_id LIMIT 100""".stripMargin
    }) { (s, dir) =>
      val docs = T.documents(s, dir)
        .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n_tok"))
      SampleOps.weightedSample(docs, "doc_id", col("n_tok"), n = 100)
        .select(col("doc_id"), col("n_tok").cast(LongType).as("n_tok"),
          col("wkey"))
    },

    // ---- per-source longest-docs via the native graft_topk bounded
    // aggregate (TopKAgg scaladoc): each map task reduces its slice to
    // ≤ k (score, id) pairs and only k-sized buffers cross the shuffle —
    // per-group network cost k·|partitions|, independent of group size,
    // vs the window spelling shuffling every row to its group's reducer.
    // posexplode turns the rank-ordered id array into scalar rows for
    // the gate; oracle is the equivalent rank window.
    q("q129_topk_per_source",
      s"""SELECT source, rank, doc_id FROM (
         |  SELECT source, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY len($sqlToks) DESC, doc_id) AS rank
         |  FROM documents)
         |WHERE rank <= 3
         |ORDER BY source NULLS FIRST, rank NULLS FIRST""".stripMargin) {
      (s, dir) =>
        graft.functions.TopKAgg.register(s)
        T.documents(s, dir)
          .select(col("source"),
            size(TextOps.tokens(col("text"))).cast(LongType).as("n_tok"),
            col("doc_id"))
          .groupBy("source")
          .agg(call_function(graft.functions.TopKAgg.name,
            col("n_tok"), col("doc_id"), lit(3)).as("ids"))
          .select(col("source"), posexplode(col("ids")).as(Seq("p", "doc_id")))
          .select(col("source"), (col("p") + 1).cast(LongType).as("rank"),
            col("doc_id"))
          .orderBy("source", "rank")
    },

    // ---- per-source KMV distinct sketches via the native
    // graft_kmv_sketch TypedImperativeAggregate (the custom-AGGREGATE tier
    // of the extension ladder): each map task reduces its slice of the
    // token stream to ≤ k longs and only sketch buffers cross the shuffle
    // — the windowed rank-per-group spelling would shuffle every token
    // row to its group's reducer (KmvSketchAgg scaladoc). Hashes use
    // q62's md5 spelling so the oracle reproduces them digit-for-digit;
    // groups under k distinct values estimate exactly.
    q("q122_kmv_by_source", {
      val digitFold = (0 until 15).map { i =>
        val w = BigInt(16).pow(14 - i)
        s"CAST(strpos('0123456789abcdef', substr(md5(t), ${i + 1}, 1)) - 1 AS BIGINT) * $w"
      }.mkString(" + ")
      s"""WITH tok AS (SELECT DISTINCT source, t
         |  FROM (SELECT source, unnest($sqlToks) AS t FROM documents)),
         |h AS (SELECT source, $digitFold AS h FROM tok),
         |r AS (SELECT source, h,
         |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
         |      FROM h)
         |SELECT source, CAST(count(*) AS BIGINT) AS k_kept, MAX(h) AS hk,
         |  CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
         |       ELSE (CAST(count(*) - 1 AS DOUBLE) * 1152921504606846976.0)
         |            / CAST(MAX(h) AS DOUBLE) END AS est
         |FROM r WHERE rn <= 256 GROUP BY source
         |ORDER BY source NULLS FIRST""".stripMargin
    }) { (s, dir) =>
      graft.functions.KmvSketchAgg.register(s)
      val h = conv(substring(md5(col("t")), 1, 15), 16, 10)
        .cast(LongType).as("h")
      T.documents(s, dir)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("t"))
        .select(col("source"), h)
        .groupBy("source")
        .agg(call_function(graft.functions.KmvSketchAgg.name,
          col("h"), lit(256)).as("mins"))
        .select(col("source"),
          size(col("mins")).cast(LongType).as("k_kept"),
          element_at(col("mins"), size(col("mins"))).as("hk"),
          when(size(col("mins")) < 256,
            size(col("mins")).cast(DoubleType))
            .otherwise((size(col("mins")) - 1).cast(DoubleType) *
              lit(1152921504606846976.0) /
              element_at(col("mins"), size(col("mins"))).cast(DoubleType))
            .as("est"))
        .orderBy("source")
    },

    // ---- exact-substring span dedup (beyond-parity; Lee et al. 2022):
    // the SLIDING-window counterpart of q92's fixed chunks — a 5-token
    // window at EVERY start position occurring in ≥2 distinct docs marks
    // its tokens; marked positions merge into maximal spans; uncovered
    // tokens survive in order. Catches shared passages at any alignment
    // (the reason the paper uses a suffix array; here the same spans fall
    // out of linear relational passes — TextOps.substringSpanDedup
    // scaladoc). Shuffled semi-join for the dup set (corpus-sized worst
    // case, never broadcast); span merge is per-row array math on the
    // doc-bounded covered set — island starts are covered positions whose
    // predecessor is uncovered, so no per-doc window pass.
    q("q148_substring_span_dedup",
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS pos
        |      FROM t WHERE len(toks) >= 5),
        |ng AS (SELECT doc_id, pos, array_to_string(toks[pos:pos+4], ' ')
        |         AS gram FROM g),
        |dup AS (SELECT gram FROM ng GROUP BY gram
        |        HAVING count(DISTINCT doc_id) >= 2),
        |cv AS (SELECT doc_id, list_sort(list(p)) AS cov FROM (
        |         SELECT DISTINCT doc_id, pos + j AS p
        |         FROM ng, (SELECT unnest(range(5)) AS j) js
        |         WHERE gram IN (SELECT gram FROM dup))
        |       GROUP BY doc_id),
        |f AS (SELECT t.doc_id, t.toks, coalesce(cv.cov, []) AS cov
        |      FROM t LEFT JOIN cv USING (doc_id))
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        |  CAST(len(cov) AS BIGINT) AS n_removed,
        |  CAST(len([p for p in cov if NOT list_contains(cov, p - 1)])
        |    AS BIGINT) AS n_spans,
        |  coalesce(array_to_string([toks[i] for i in range(1, len(toks) + 1)
        |                   if NOT list_contains(cov, i)], ' '), '') AS clean_text
        |FROM f ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      TextOps.substringSpanDedup(T.documents(s, dir), "doc_id", "text",
          k = 5, minDocs = 2)
        .orderBy("doc_id")
    },

    // ---- DSIR-flavored importance selection (beyond-parity; Xie et al.
    // 2023): rank every non-target doc by how much its hashed
    // unigram+bigram profile looks like the target domain (src0/src1
    // stand in for "high-quality"), keep the top 50. The log-ratio sum of
    // the paper is order-dependent double math that can never hash-match
    // cross-engine; SampleOps.hashedImportanceSelect keeps the same
    // expected-count signal as EXACT int64 sums (add-one smoothed) with
    // ONE final division. Bucket tables broadcast (numBuckets rows);
    // top-n plans as TakeOrderedAndProject — no global sort or window.
    q("q149_importance_select",
      """WITH t AS (SELECT doc_id, source IN ('src0','src1') AS is_tgt,
        |             string_split(trim(text), ' ') AS toks FROM documents),
        |f AS (SELECT doc_id, is_tgt, unnest(toks) AS ft FROM t
        |      UNION ALL
        |      SELECT doc_id, is_tgt,
        |        unnest([array_to_string(toks[i:i+1], ' ')
        |                for i in range(1, len(toks))]) AS ft
        |      FROM t WHERE len(toks) >= 2),
        |b AS (SELECT doc_id, is_tgt,
        |    CAST((  (strpos('0123456789abcdef', substr(md5(ft), 1, 1)) - 1) * 4096
        |          + (strpos('0123456789abcdef', substr(md5(ft), 2, 1)) - 1) * 256
        |          + (strpos('0123456789abcdef', substr(md5(ft), 3, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(md5(ft), 4, 1)) - 1)) % 64
        |      AS INT) AS bucket FROM f),
        |s AS (SELECT bucket,
        |        CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |        CAST(sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS BIGINT) AS cr
        |      FROM b GROUP BY bucket),
        |cand AS (SELECT b.doc_id,
        |        CAST(sum(s.ct + 1) AS BIGINT) AS num,
        |        CAST(sum(s.cr + 1) AS BIGINT) AS den
        |      FROM b JOIN s USING (bucket) WHERE NOT b.is_tgt
        |      GROUP BY b.doc_id),
        |r AS (SELECT doc_id, num, den, CAST(num AS DOUBLE) / den AS ratio,
        |        ROW_NUMBER() OVER (ORDER BY CAST(num AS DOUBLE) / den DESC,
        |                           doc_id) AS rk
        |      FROM cand)
        |SELECT doc_id, num, den, ratio, rk FROM r WHERE rk <= 50
        |ORDER BY rk NULLS FIRST""".stripMargin) { (s, dir) =>
      SampleOps.hashedImportanceSelect(T.documents(s, dir), "doc_id", "text",
          isTarget = col("source").isin("src0", "src1"),
          numBuckets = 64, n = 50)
        .orderBy("rk")
    },

    // ---- fuzzy cross-corpus decontamination (beyond-parity): q90's
    // shared-count cut graded into exact Jaccard — near-duplicate
    // train/eval pairs score ~1, boilerplate overlap scores ~0 whatever
    // its raw count. Exact WITHOUT PPJoin: the eval side's posting lists
    // bound the candidate join (the premise of the check), set sizes are
    // doc-count-sized frames joined onto the pair aggregate (NOT carried
    // through the explode — CollapseProject would re-inline the shingle
    // construction per exploded row, measured 15× of the entry's wall),
    // and Jaccard is one division of exact ints
    // (TextOps.crossJaccardDecontamination scaladoc). The low
    // threshold (0.03) deliberately keeps borderline pairs in the gate so
    // the division itself is pinned, not just the planted near-dups.
    q("q150_fuzzy_decontamination",
      """WITH lab AS (SELECT doc_id, text,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,4) < 'e666'
        |         THEN 'train' ELSE 'test' END AS split FROM documents),
        |sh AS (SELECT doc_id, split,
        |    list_distinct([array_to_string(toks[i:i+2], ' ')
        |                   for i in range(1, len(toks) - 1)]) AS shingles
        |  FROM (SELECT doc_id, split, string_split(trim(text), ' ') AS toks
        |        FROM lab)),
        |p AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
        |        CAST(len(list_intersect(t.shingles, e.shingles)) AS BIGINT)
        |          AS n_shared,
        |        len(t.shingles) AS na, len(e.shingles) AS nb
        |      FROM sh t, sh e
        |      WHERE t.split = 'train' AND e.split = 'test'
        |        AND len(list_intersect(t.shingles, e.shingles)) >= 1)
        |SELECT train_id, eval_id, n_shared,
        |       CAST(n_shared AS DOUBLE) / (na + nb - n_shared) AS jaccard
        |FROM p
        |WHERE CAST(n_shared AS DOUBLE) / (na + nb - n_shared) >= 0.03
        |ORDER BY train_id NULLS FIRST, eval_id NULLS FIRST""".stripMargin) {
      (s, dir) =>
        val lab = SampleOps.hashSplit(T.documents(s, dir), "doc_id",
          Seq("train" -> 0.9, "test" -> 0.1))
        TextOps.crossJaccardDecontamination(
            lab.filter(col("split") === "train"),
            lab.filter(col("split") === "test"),
            "doc_id", "text", n = 3, threshold = 0.03)
          .orderBy("train_id", "eval_id")
    },

    // ---- cluster-balanced sampling (beyond-parity): cap every semantic
    // cluster's contribution to 8 vectors — the diversity-selection step
    // after dedup. Cells are the q57 seed-centroid IVF assignment (so the
    // oracle rebuilds them); within a cell the kept vectors are the
    // smallest md5-60-bit keys via the native bounded top-k aggregate —
    // per-cell network cost quota·|partitions|, NOT cell size, so the
    // mega-cell this op exists to cap can't also kill its shuffle
    // (SampleOps.clusterBalancedSample scaladoc).
    q("q151_cluster_balanced_sample", {
      val digitFold = (0 until 15).map { i =>
        val w = BigInt(16).pow(14 - i)
        s"CAST(strpos('0123456789abcdef', substr(md5(CAST(nid AS VARCHAR)), ${i + 1}, 1)) - 1 AS BIGINT) * $w"
      }.mkString(" + ")
      s"""WITH cent AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  ORDER BY vec_id LIMIT 16),
         |asg AS (
         |  SELECT nid, cid FROM (
         |    SELECT e.vec_id AS nid, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                                        CAST(c.ce AS DOUBLE[])) DESC,
         |                 c.cid) AS r
         |    FROM embeddings e, cent c) WHERE r = 1),
         |h AS (SELECT nid, cid, $digitFold AS h FROM asg),
         |r AS (SELECT nid, cid,
         |        row_number() OVER (PARTITION BY cid ORDER BY h, nid) AS rk
         |      FROM h)
         |SELECT nid AS vec_id, cid AS cell, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 8
         |ORDER BY vec_id NULLS FIRST""".stripMargin
    }) { (s, dir) =>
      SampleOps.clusterBalancedSample(T.embeddings(s, dir), dim = 64,
          nCells = 16, quota = 8)
        .orderBy("vec_id")
    },

    // ---- leakage-free split (beyond-parity): train/test assignment at
    // the NEAR-DUP-CLUSTER level — q60's MinHash-LSH components pick the
    // clusters, the cluster id (smallest member) routes its WHOLE
    // cluster through the q84 md5-range split, and singletons (most of a
    // deduped corpus — they never enter the pair join) are their own
    // cluster. Two near-duplicates can therefore never straddle the
    // boundary, the contamination a per-doc hash split cannot prevent.
    // The oracle rebuilds components by exact-Jaccard recursive closure
    // and replays the md5 threshold, so a wrong cluster, a dropped
    // singleton, or a split that ignores the cluster all hash-mismatch.
    q("q153_leakage_free_split",
      s"""WITH RECURSIVE sh AS (
         |  SELECT doc_id, $sqlShingles AS shingles
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |),
         |pr AS (
         |  SELECT a.doc_id AS ida, b.doc_id AS idb FROM sh a, sh b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.shingles, b.shingles)) * 2
         |        >= len(list_distinct(list_concat(a.shingles, b.shingles)))
         |),
         |edges AS (SELECT ida AS a, idb AS b FROM pr
         |          UNION SELECT idb AS a, ida AS b FROM pr),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |),
         |cc AS (SELECT a AS doc_id, least(a, MIN(b)) AS cluster
         |       FROM reach GROUP BY a),
         |lab AS (SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster
         |        FROM documents d LEFT JOIN cc USING (doc_id))
         |SELECT doc_id, cluster,
         |  CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 4) < 'cccd'
         |       THEN 'train' ELSE 'test' END AS split
         |FROM lab ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      SampleOps.leakageFreeSplit(T.documents(s, dir), "doc_id", "text",
          Seq("train" -> 0.8, "test" -> 0.2))
        .select("doc_id", "cluster", "split")
        .orderBy("doc_id")
    },

    // ---- leakage-free split SERVED from the maintained similarity
    // graph (VERDICT r13 #3): candidates are the SimGraphStore's edges
    // (≥2 distinct rare shingles in common, built incrementally in two
    // updates — the q136 lifecycle), each exact-Jaccard-verified on its
    // true shingle sets, then the q153 closure + md5-range cluster
    // split. Repeated splits on a curated lake cost a store read plus
    // pair-bounded verify — no LSH rebuild. The oracle composes the
    // q136 rare-pair predicate with the Jaccard filter and replays the
    // recursive closure and the md5 threshold.
    qm("q156_leakage_free_split_store",
      s"""WITH RECURSIVE shset AS (
         |  SELECT doc_id, $sqlShingles AS shingles
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
         |),
         |sh AS (SELECT doc_id, unnest(shingles) AS s FROM shset),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
         |p AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
         |cand AS (
         |  SELECT a.doc_id AS ida, b.doc_id AS idb
         |  FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |pr AS (
         |  SELECT ida, idb FROM cand
         |  JOIN shset sa ON sa.doc_id = cand.ida
         |  JOIN shset sb ON sb.doc_id = cand.idb
         |  WHERE len(list_intersect(sa.shingles, sb.shingles)) * 2
         |        >= len(list_distinct(list_concat(sa.shingles, sb.shingles)))
         |),
         |edges AS (SELECT ida AS a, idb AS b FROM pr
         |          UNION SELECT idb AS a, ida AS b FROM pr),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |),
         |cc AS (SELECT a AS doc_id, least(a, MIN(b)) AS cluster
         |       FROM reach GROUP BY a),
         |lab AS (SELECT d.doc_id, coalesce(cc.cluster, d.doc_id) AS cluster
         |        FROM documents d LEFT JOIN cc USING (doc_id))
         |SELECT doc_id, cluster,
         |  CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 4) < 'cccd'
         |       THEN 'train' ELSE 'test' END AS split
         |FROM lab ORDER BY doc_id NULLS FIRST""".stripMargin) { (s, dir) =>
      import org.apache.hadoop.fs.Path
      val p = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-splitstore-" + dir.replaceAll("[^A-Za-z0-9]", "_"))
        .getAbsolutePath
      graft.sources.ParquetCompaction.recover(s, p)
      val root = new Path(p)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true)
      val docs = T.documents(s, dir)
      SimGraphStore.init(s, p, n = 3, cap = 50L, minCommon = 2L)
      SimGraphStore.update(s, p,
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text")
      SimGraphStore.update(s, p,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text")
      // the gate PINS the store-served branch (serveEdgeRatio = ∞): the
      // synthetic corpus is template-dense, where the in-code dial would
      // pick the LSH recompute — correct operationally, but this entry
      // exists to drive the STORE path against the oracle; the dial's
      // own both-branch behavior is spec-pinned (TextPipelineSpec)
      SampleOps.leakageFreeSplitFromStore(s, p, docs, "doc_id", "text",
          Seq("train" -> 0.8, "test" -> 0.2),
          serveEdgeRatio = Double.PositiveInfinity)
        .select("doc_id", "cluster", "split")
        .orderBy("doc_id")
    },
  )
}
