package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis / deduplication building blocks for training-data
  * pipelines, all expressed as codegen-friendly Column transforms (no UDFs,
  * SURVEY "Functions, not UDFs").
  *
  * Scale notes (100 TB): every operator here is embarrassingly parallel per
  * document except the LSH band join, which shuffles once on
  * (band, signature) — the published MinHash-LSH layout. Nothing does an
  * all-pairs crossJoin.
  */
object TextOps {

  /** Whitespace tokens of a trimmed document. */
  def tokens(text: Column): Column = split(trim(text), " ")

  /** All word n-gram strings at every start position (1-based position i
    * holds the gram starting at token i; positions past len−n+1 hold
    * null), built as a [[slidingGrams]] zip_with chain. The naive
    * spelling — `transform(sequence(...), i => concat_ws(slice(toks, i,
    * n)))` — re-evaluates the lambda-captured `toks` expression (a regex
    * split!) on EVERY element, O(len²) splits per row in interpreted HOF
    * eval (profiled: executors pinned in StringSplit.nullSafeEval at the
    * 100× corpus). zip_with's arguments evaluate ONCE per row, so the
    * chain costs n splits per row total. */
  private[llm] def slidingGrams(toks: Column, n: Int): Column =
    (2 to n).foldLeft(toks)((acc, k) =>
      zip_with(acc, slice(toks, lit(k), greatest(size(toks) - (k - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b)))

  /** Distinct word n-gram shingles. Documents shorter than n tokens get an
    * empty set. concat() yields null past position len−n+1 (zip_with pads
    * the shorter slice with nulls), so the filter drops exactly them. */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      array_distinct(filter(slidingGrams(toks, n), x => x.isNotNull)))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Order-insensitive document fingerprint: md5 over the sorted distinct
    * token set. Exact-duplicate detection under bag-of-words equality. */
  def tokenSetFingerprint(text: Column): Column =
    md5(concat_ws(" ", sort_array(array_distinct(tokens(text)))))

  /** Which batch documents already exist in a (much larger) history
    * corpus, by token-set fingerprint — the "is tonight's crawl already in
    * the lake" membership sweep. Three stages, all exactness-preserving:
    *
    *  1. the history folds into ONE Bloom filter via the native
    *     [[graft.functions.BloomFilterAgg]] — a partial aggregate, so each
    *     map task reduces its slice locally and only filter-sized buffers
    *     (mBits/8 bytes) cross the shuffle; the history itself is NEVER
    *     SHUFFLED (it is scanned twice — once into the filter here, once
    *     as the exact-verify side of stage 3 — both map-side; a nightly
    *     job avoids even the first scan by keeping the filter in a
    *     persisted [[BloomHistory]] store and folding only new batches);
    *  2. the batch probes the broadcast one-row filter map-side
    *     ([[graft.functions.BloomProbe.mightContain]], pure codegen'd
    *     Column ops — no UDF, no driver round-trip);
    *  3. Bloom hits — true duplicates plus the tunable false-positive
    *     residue, NEVER missing a true dup — re-verify exactly against the
    *     history fingerprints, so the output is exact while the verify
    *     join's probe side shrank from |batch| to |hits|.
    *
    * At lake scale the filter is the only history-sized artifact that
    * moves (2 MB at mBits = 2²⁴), and it composes with groupBy for
    * per-source filters. Returns the duplicate batch rows' ids. */
  def dedupAgainstHistory(history: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, mBits: Int = 1 << 20, k: Int = 5)
    : DataFrame = {
    graft.functions.BloomFilterAgg.register(history.sparkSession)
    val hfp = history.select(tokenSetFingerprint(col(textCol)).as("hfp"))
    val bloom = hfp.agg(call_function(graft.functions.BloomFilterAgg.name,
      xxhash64(col("hfp")), lit(mBits), lit(k)).as("bloom_words"))
    val b = batch.select(col(idCol).cast(LongType).as("doc_id"),
      tokenSetFingerprint(col(textCol)).as("fp"))
    val hits = b.crossJoin(broadcast(bloom))
      .filter(graft.functions.BloomProbe.mightContain(
        col("bloom_words"), xxhash64(col("fp")), mBits, k))
      .select("doc_id", "fp")
    hits.join(hfp, col("fp") === col("hfp"), "left_semi")
      .select("doc_id")
  }

  /** Order-SENSITIVE polynomial rolling-hash fingerprint (Rabin–Karp
    * family): h = fold(chars, h*131 + code mod 1e9+7), seeded with the
    * first character. Complements [[tokenSetFingerprint]]: byte-order
    * changes flip this hash while the token-set hash is stable. The modulus
    * keeps every intermediate inside exact integer range on any engine, so
    * independent implementations agree bit-for-bit. One pass per document,
    * embarrassingly parallel; at lake scale move the fold into a
    * per-partition kernel (interpreted higher-order fns don't codegen). */
  def rollingFingerprint(text: Column): Column = {
    val codes = transform(split(text, ""), ch => ascii(ch).cast(LongType))
    when(text.isNull || length(text) === 0, lit(0L)).otherwise(
      aggregate(
        slice(codes, lit(2), greatest(size(codes) - 1, lit(0))),
        element_at(codes, 1),
        (h, c) => (h * lit(131L) + c) % lit(1000000007L)))
  }

  /** [[rollingFingerprint]] as a per-partition kernel — same fold, but a
    * tight char loop instead of an interpreted higher-order expression
    * (~7× on the catalog entry; the production spelling per the engine's
    * kernel-vs-expression-tree lesson). Spec asserts kernel == Column. */
  def rollingFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("fp", LongType)))
    val rdd = df.select(col(idCol).cast(LongType), col(textCol)).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val s = if (r.isNullAt(1)) "" else r.getString(1)
          var h = 0L
          if (s.nonEmpty) {
            h = s.charAt(0).toLong
            var i = 1
            while (i < s.length) { h = (h * 131L + s.charAt(i)) % 1000000007L; i += 1 }
          }
          org.apache.spark.sql.Row(r.getLong(0), h)
        }
      }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Number of BPE-ish lexical tokens (letter runs / digit runs / single
    * punctuation) — the regex stand-in for a real tokenizer's pre-split. */
  def lexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** PII patterns, written to the common subset of Java regex and RE2 (no
    * backreferences, no lookaround) so an independent engine running RE2
    * (DuckDB, Go) produces the identical match set. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII redaction: emails then phone numbers replaced with typed
    * placeholders. Map-only codegen'd regexp_replace — embarrassingly
    * parallel, the shape a 100 TB scrub pass needs. Emails redact FIRST so
    * an address can never leave digits behind for the phone pattern. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  /** Per-document PII hit counts (same patterns as [[redactPii]]). */
  def emailCount(text: Column): Column = regexp_count(text, lit(emailRe))
  def phoneCount(text: Column): Column = regexp_count(text, lit(phoneRe))

  /** Benchmark decontamination: training documents sharing at least
    * `minShared` distinct word `n`-grams with any document of an
    * evaluation set — the standard "did the eval set leak into training?"
    * check. Returns (train_id, eval_id, n_shared) per contaminated pair.
    *
    * Scale: both sides explode to (doc, shingle) postings and meet in an
    * equi-join on the shingle — candidates are bounded by the eval side's
    * posting lists, never |train|×|eval|. The eval set is tiny next to the
    * corpus (that is the premise of the check), so its postings broadcast
    * and the training side never shuffles; ultra-common shingles should be
    * dropped upstream (they indicate boilerplate, not leakage) with a df
    * cap on the eval postings if an eval doc is pathological. */
  def ngramContamination(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minShared: Int = 2): DataFrame = {
    val t = train.select(col(idCol).as("train_id"),
      explode(wordShingles(col(textCol), n)).as("sh"))
    val e = eval.select(col(idCol).as("eval_id"),
      explode(wordShingles(col(textCol), n)).as("sh"))
    // shingles are distinct within a document, so the per-pair match count
    // IS the intersection size
    t.join(e, "sh")
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Fuzzy cross-corpus decontamination: every (train, eval) pair whose
    * distinct word `n`-gram shingle sets have Jaccard ≥ `threshold` — the
    * graded companion of [[ngramContamination]]'s shared-count cut, the
    * "eval item paraphrased into training" check (near-duplicates score
    * ~1, boilerplate overlap scores near 0 regardless of raw shared
    * count). Returns (train_id, eval_id, n_shared, jaccard).
    *
    * Exactness WITHOUT the PPJoin prefix filter [[ngramJaccardPairs]]
    * needs for its self-join: candidate pairs here are bounded by the
    * EVAL side's posting lists (the eval set is tiny — the premise of the
    * check), so every sharing pair is enumerated outright and the exact
    * count is the join's group size (shingles are distinct per doc). Set
    * sizes ride along from pre-explode arithmetic; Jaccard is ONE
    * division of exact ints — bitwise stable on any engine. Scale: the
    * train side shuffles once on the shingle key (or not at all when the
    * eval postings broadcast — AQE decides); df-hot shingles are
    * boilerplate, not leakage, and should be capped upstream exactly as
    * in [[ngramContamination]]. */
  def crossJaccardDecontamination(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // the exploded frames carry ONLY (id, shingle): putting size(...) in
    // the same select plants it in the Project ABOVE the Generate, where
    // CollapseProject re-inlines the whole shingle construction (regex
    // split + zip_with chain, interpreted HOF eval) PER EXPLODED ROW —
    // profiled at 10× of the entry's wall. The set sizes are doc-count-
    // sized frames joined onto the PAIR aggregate instead, where each is
    // computed once per document.
    val t = train.select(col(idCol).as("train_id"),
      explode(wordShingles(col(textCol), n)).as("sh"))
    val e = eval.select(col(idCol).as("eval_id"),
      explode(wordShingles(col(textCol), n)).as("sh"))
    val tsz = train.select(col(idCol).as("train_id"),
      size(wordShingles(col(textCol), n)).as("na"))
    val esz = eval.select(col(idCol).as("eval_id"),
      size(wordShingles(col(textCol), n)).as("nb"))
    t.join(e, "sh")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .join(tsz, "train_id").join(esz, "eval_id")
      .withColumn("jaccard", col("n_shared").cast(DoubleType) /
        (col("na") + col("nb") - col("n_shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("train_id"), col("eval_id"), col("n_shared"), col("jaccard"))
  }

  /** Corpus document-frequency quality stats per document: token count,
    * the sum over token occurrences of each token's corpus document
    * frequency, the hapax count (tokens appearing in exactly one document),
    * and the mean document frequency. Low mean-df / high hapax marks
    * rare-word-heavy documents; high mean-df marks boilerplate. A monotone
    * transform of the usual mean-IDF score, kept in exact integer
    * arithmetic so the result is bitwise deterministic under any partial
    * aggregation order (a log-based score would sum doubles in
    * shuffle-dependent order); callers wanting idf apply ln(N/df) to the
    * df table themselves.
    *
    * Scale: two shuffles — the df aggregation (vocabulary-sized output;
    * Zipf says |vocab| ≪ |corpus|) and the per-document re-aggregation.
    * The postings↔df equi-join is one-to-many with a single row per token
    * on the df side, so it cannot blow up; hot stopword keys skew the
    * shuffle and are handled by AQE skew-join (or a df cap upstream when
    * the corpus is pathological). The df table broadcasts whenever it fits
    * (Spark's threshold decides — not forced, since a web-scale vocab may
    * not fit an executor). */
  def docFrequencyStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("t"))
    val dfreq = tok.groupBy("t").agg(countDistinct(col("doc_id")).as("dfc"))
    tok.join(dfreq, "t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("dfc").as("sum_df"),
        sum(when(col("dfc") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("mean_df", col("sum_df").cast(DoubleType) / col("n_tok"))
  }

  /** Duplicate-span scrub: split each document into consecutive `k`-token
    * chunks, drop every chunk whose text occurs in at least `minDocs`
    * distinct documents (shared spans are boilerplate — headers, footers,
    * license blocks), and reassemble the survivors in order. Returns
    * (doc_id, clean_text, n_chunks, n_dropped); a fully-scrubbed document
    * keeps its row with empty clean_text. Within-document repetition is
    * NOT scrubbed — that is a quality signal ([[wordRepetitionStats]]),
    * not cross-document contamination.
    *
    * Scale: chunk rows are (id, pos, chunk) — linear in corpus size, never
    * pairwise. The duplicated-chunk set is corpus-sized in the worst case,
    * so it is met with a shuffled equi-join on the chunk text, not a
    * broadcast. The join is a LEFT join carrying a dup flag (not an
    * anti-join): survivors and totals then come out of ONE groupBy over
    * the flagged chunks — a two-groupBy + join-back spelling would
    * shuffle the chunk set twice and add a third shuffle for the join.
    * Chunk keys could be xxhash64-narrowed for shuffle width at lake
    * scale; kept as text here so the oracle compares the same rows. */
  def duplicateSpanScrub(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    val toks = tokens(col(textCol))
    val chunkArr = transform(
      sequence(lit(0), ceil(size(toks).cast(DoubleType) / k).cast(IntegerType) - 1),
      i => concat_ws(" ", slice(toks, i * k + 1, lit(k))))
    val chunks = df.select(col(idCol).as("doc_id"), posexplode(chunkArr).as(Seq("pos", "chunk")))
    val dup = chunks.groupBy("chunk")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("chunk"), lit(true).as("__dup"))
    chunks.join(dup, Seq("chunk"), "left_outer")
      .groupBy("doc_id")
      .agg(
        // collect_list skips nulls, so only surviving chunks are gathered
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__dup").isNull,
            struct(col("pos"), col("chunk"))))),
          s => s.getField("chunk"))).as("clean_text"),
        count(lit(1)).as("n_chunks"),
        count(col("__dup")).as("n_dropped"))
      .select(col("doc_id"), col("clean_text"), col("n_chunks"), col("n_dropped"))
  }

  /** Exact-substring span dedup (the sliding-window counterpart of
    * [[duplicateSpanScrub]], after Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): every `k`-token window at EVERY
    * start position (stride 1, not fixed chunks) that occurs in at least
    * `minDocs` distinct documents marks its k tokens as duplicated; the
    * marked positions merge into maximal spans; the output keeps the
    * uncovered tokens in order. Unlike the chunk spelling, a shared
    * passage is caught at any alignment — the reason the paper dedups on a
    * suffix array rather than fixed chunks. Returns (doc_id, n_tok,
    * n_removed, n_spans, clean_text) for every document (short docs pass
    * through untouched).
    *
    * Scale: a distributed suffix array is the wrong tool on Spark — the
    * same spans fall out of linear relational passes. Sliding windows are
    * k rows per token (k× the [[duplicateSpanScrub]] posting volume, still
    * linear, never pairwise); the duplicated-window set is corpus-sized in
    * the worst case so it meets the windows in a SHUFFLED left-semi join
    * (not broadcast); covered positions aggregate per document (≤ doc
    * length each) and span merging is pure per-row array math on that
    * bounded array — island starts are covered positions whose
    * predecessor is uncovered, so no per-doc window pass and no second
    * shuffle. The per-row `array_contains` filters are O(len²) in doc
    * length — bounded by the longest document, not the corpus; a
    * million-token outlier should be chunked upstream ([[chunkForEmbedding]]).
    *
    * `hashedGramKeys` (default true — the lake-scale dial, VERDICT r13
    * #4): the window's shuffle key is xxhash64(gram) — 8 bytes per
    * window across the duplicated-window groupBy and the coverage
    * semi-join, instead of the full k-token gram STRING (~6·k bytes);
    * at k=5 that is an ~4× cut in the two gram shuffles, which dominate
    * the operator's bytes at corpus scale. A hash collision (2⁻⁶⁴ per
    * window PAIR — at 10¹² windows the corpus-wide collision odds are
    * ~3·10⁻²; union-bound, per-window, not per-doc) can only mark a
    * unique window as duplicated, never unmark a real duplicate, so the
    * failure mode is a conservatively over-scrubbed token run. Set
    * false for the bitwise-guaranteed text-keyed spelling (identical
    * output absent collisions — the q148 oracle compares the same rows
    * either way, and the spec pins hashed == text on the gate corpus). */
  def substringSpanDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minDocs: Int = 2,
      hashedGramKeys: Boolean = true): DataFrame = {
    require(k >= 2, "a 1-token window dedups the vocabulary, not substrings")
    val base = df.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("toks"))
    // slidingGrams: position i holds the k-gram starting at token i+1,
    // null past len−k+1 (and for docs shorter than k) — the null filter
    // after posexplode keeps exactly the real windows with their positions
    val gkey: Column => Column =
      if (hashedGramKeys) g => xxhash64(g) else identity
    val grams = base
      .select(col("doc_id"),
        posexplode(slidingGrams(col("toks"), k)).as(Seq("p0", "gram")))
      .filter(col("gram").isNotNull)
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        gkey(col("gram")).as("gram"))
    val dup = grams.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gram")
    val cov = grams.join(dup, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("p"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("p"))).as("cov"))
    base.join(cov, Seq("doc_id"), "left_outer")
      .withColumn("covA", coalesce(col("cov"), array().cast(ArrayType(IntegerType))))
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tok"),
        size(col("covA")).cast(LongType).as("n_removed"),
        // an island starts at a covered position whose predecessor isn't
        size(filter(col("covA"),
          p => !array_contains(col("covA"), p - 1))).cast(LongType).as("n_spans"),
        concat_ws(" ", filter(col("toks"),
          (_, i) => !array_contains(col("covA"), i + 1))).as("clean_text"))
  }

  /** Feature hashing (the "hashing trick"): each document becomes a dense
    * integer vector of length `numBuckets` where slot j counts the
    * occurrences of tokens whose md5 falls in bucket j — the fixed-width,
    * vocabulary-free featurization used when a learned vocab is too big
    * or must be stable across corpus versions. The bucket is the first
    * FOUR md5 hex digits (16 bits) mod numBuckets, so the distribution is
    * near-uniform for any allowed bucket count (max relative bias
    * numBuckets/65536), not just divisors of 16 — both engines extract
    * the prefix identically (conv base-16 on Spark, positional strpos
    * arithmetic in the oracle SQL).
    *
    * Scale: explode + two keyed aggregations (doc×bucket counts, then
    * per-doc assembly via a map literal — bounded at numBuckets entries
    * per doc). Integer counts end to end: bitwise deterministic. The
    * vector is emitted BOTH as array<long> `feature_vec` (programmatic
    * use) and comma-joined string `feature_str` (engine-portable compare
    * — harnesses that canonicalize rows can't sort nested arrays). */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 16): DataFrame = {
    require(numBuckets > 0 && numBuckets <= 1024,
      "bucket = first 4 md5 hex digits mod numBuckets; cap keeps bias < 1.6%")
    val tok = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("t"))
    val counts = tok
      .withColumn("bucket",
        pmod(conv(substring(md5(col("t")), 1, 4), 16, 10).cast(IntegerType),
          lit(numBuckets)))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
    counts.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("cnt")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(numBuckets - 1)),
          j => coalesce(element_at(col("m"), j), lit(0L))).as("feature_vec"))
      .withColumn("feature_str",
        concat_ws(",", col("feature_vec").cast("array<string>")))
  }

  /** Canonical-document selection — the "collapse duplicates" step after
    * exact dedup: within each group of documents sharing a token-set
    * fingerprint, keep exactly one — the longest text (most content),
    * tie-broken by smallest id so the choice is total and reproducible on
    * any engine. Returns (doc_id, fp, group_size) for the kept documents
    * (group_size = 1 rows are singletons, passed through).
    *
    * Scale: one shuffle on the 128-bit fingerprint key; the per-group
    * argmax and the group size come from the SAME partitioning (a window
    * pass over the shuffled groups — Catalyst plans one Exchange for
    * both), never a groupBy + self-join back. Group skew is bounded: a
    * pathological fingerprint shared by millions of rows is exactly the
    * degenerate corpus dedup exists to catch, and the window still
    * processes it as one sorted run. */
  def canonicalDocs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val wOrd = w.orderBy(length(col(textCol)).desc, col(idCol).asc)
    df.select(col(idCol), col(textCol),
        tokenSetFingerprint(col(textCol)).as("fp"))
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("group_size", count(lit(1)).over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("fp"), col("group_size"))
  }

  /** Distinctive-keyword extraction: the `k` most characteristic tokens
    * per document, ranked by (term frequency desc, corpus document
    * frequency asc, token asc) — the integer-exact skeleton of tf-idf
    * ranking (df ascending IS idf descending; no float logs, so the
    * result is bitwise deterministic on any engine). Returns
    * (doc_id, t, tf, dfc, rk) for rk ≤ k.
    *
    * Scale (the r8→r9 rework; the first cut's 4.9× 10×-rehearsal ratio
    * came from shuffling the corpus-sized tf table three times — groupBy,
    * df join, rank window):
    *  - per-doc (t, tf) pairs come from run-length-encoding each row's
    *    SORTED token array — map-only, zero shuffle (a document is one
    *    row, so its term frequencies never need a groupBy);
    *  - corpus df is then a plain count over the distinct pairs (each
    *    (doc, t) appears once), partial-combined to vocab-sized output;
    *  - the vocabulary gets a contiguous rank `ridx` by (dfc asc, t asc)
    *    via range-repartition + zipWithIndex (the [[vocabulary]] shape —
    *    no single-reducer window);
    *  - the per-doc ranking (tf desc, dfc asc, t asc) collapses to ONE
    *    64-bit key `tf·2³² + (2³²−1−ridx)` (tf ≤ 2³¹−1 because a token
    *    array's length is an Int; exact while |vocab| < 2³², guarded),
    *    so [[graft.functions.TopKAgg]] keeps the top-k per doc as a
    *    partial aggregate — only k-sized buffers cross the shuffle,
    *    never the pair table;
    *  - tf unpacks from the emitted score and (t, dfc) come back from the
    *    vocab-sized map, so no second corpus join.
    * The vocab map is rebuilt from a persisted RDD, so its LogicalRDD has
    * no size stats (plan-time broadcast can never fire on its own —
    * ADVICE r10); since the exact row count is already in hand, the df
    * join gets an explicit broadcast() hint while the vocabulary is small
    * (≤2¹⁷ rows ≈ 16 MB at ~128 B/row), and beyond that AQE's runtime
    * size-based conversion decides. A vocabulary at or beyond 2³²
    * distinct tokens falls back to the windowed spelling, which is exact
    * at any cardinality. */
  def distinctiveKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val spark = df.sparkSession
    // map-only RLE: sorted tokens → run starts → (token, run length)
    val st = sort_array(tokens(col(textCol)))
    val pairs = df
      .select(col(idCol).as("doc_id"), st.as("__st"))
      .filter(size(col("__st")) > 0)
      .withColumn("__b", filter(sequence(lit(0), size(col("__st")) - 1),
        i => i === 0 ||
          get(col("__st"), i) =!= get(col("__st"), i - 1)))
      .select(col("doc_id"), explode(transform(col("__b"),
        (b, j) => struct(
          get(col("__st"), b).as("t"),
          (coalesce(get(col("__b"), j + 1), size(col("__st"))) - b)
            .cast(LongType).as("tf")))).as("p"))
      .select(col("doc_id"), col("p.t").as("t"), col("p.tf").as("tf"))

    // corpus df: one row per (doc, t) in `pairs`, so count(*) == distinct
    // docs — a plain partial-combinable count, vocab-sized output
    val dfreq = pairs.groupBy("t").agg(count(lit(1)).as("dfc"))
    val ordered = dfreq
      .repartitionByRange(col("dfc").asc, col("t").asc)
      .sortWithinPartitions(col("dfc").asc, col("t").asc)
    val vrdd = ordered.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.getString(0), r.getLong(1), i)
    }
    // RDD-level persist, NOT DataFrame.cache(): the CacheManager pins a
    // cached plan until an explicit unpersist, so a lazily-returned result
    // would leak one vocab-sized cache per invocation in a long-lived
    // session (ADVICE r9). A persisted RDD is reclaimed by the
    // ContextCleaner once the returned frame (whose lineage holds the only
    // reference) is garbage-collected — callers own the lifetime without
    // an API change, and the harness's between-entry unpersist-all still
    // clears it deterministically.
    val vrddP = vrdd.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vmap = spark.createDataFrame(vrddP, StructType(Seq(
      StructField("t", StringType), StructField("dfc", LongType),
      StructField("ridx", LongType))))
    val vocabSize = vmap.count()
    if (vocabSize >= (1L << 32)) {
      vrddP.unpersist(blocking = false)
      return distinctiveKeywordsWindowed(pairs, dfreq, k)
    }

    graft.functions.TopKAgg.register(spark)
    // explicit hint: the RDD-rebuilt vmap has defaultSizeInBytes stats,
    // so without this the broadcast could only happen via AQE at runtime
    // (and never with AQE off) — see the scaladoc
    val vmapB = if (vocabSize <= (1L << 17)) broadcast(vmap) else vmap
    // packed rank key: score desc == (tf desc, ridx asc) == the full
    // (tf desc, dfc asc, t asc) order; unique per doc (ridx is), so the
    // aggregate's id tie-break never fires
    val scored = pairs.join(vmapB.select("t", "ridx"), "t")
      .select(col("doc_id"),
        (shiftleft(col("tf"), 32) + (lit((1L << 32) - 1) - col("ridx")))
          .as("score"),
        col("ridx"))
    val top = scored.groupBy("doc_id")
      .agg(call_function(graft.functions.TopKAgg.name,
        col("score"), col("ridx"), lit(k), lit(true)).as("si"))
    top
      .select(col("doc_id"), explode(transform(
        // si is interleaved [s,i,…], always even-length; / is double
        // division on Columns, hence the int cast back
        sequence(lit(0), (size(col("si")) / 2).cast(IntegerType) - 1),
        j => struct(
          shiftright(get(col("si"), j * 2), 32).as("tf"),
          get(col("si"), j * 2 + 1).as("ridx"),
          (j + 1).as("rk")))).as("e"))
      .select(col("doc_id"), col("e.tf").as("tf"),
        col("e.ridx").as("ridx"), col("e.rk").as("rk"))
      .join(vmapB, "ridx")
      .select(col("doc_id"), col("t"), col("tf"), col("dfc"), col("rk"))
  }

  /** Windowed spelling of [[distinctiveKeywords]] — exact at any
    * vocabulary cardinality; the ≥2³²-token fallback. */
  private def distinctiveKeywordsWindowed(pairs: DataFrame,
      dfreq: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("dfc").asc, col("t").asc)
    pairs.join(dfreq, "t")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("t"), col("tf"), col("dfc"), col("rk"))
  }

  /** Sliding-window chunking for embedding pipelines: each document
    * becomes overlapping `window`-token chunks at `stride`-token steps —
    * the standard pre-embedding split (stride < window keeps context
    * across cuts). A document of n ≤ window tokens is one chunk; else
    * 1 + ⌈(n − window)/stride⌉ chunks, the last one short. Returns
    * (doc_id, chunk_pos, chunk_text, n_tok).
    *
    * Scale: map-only one-to-many — the same shape as frame sampling:
    * emit small chunk rows rather than shuffling whole documents, so the
    * downstream embedding stage partitions on chunks. n_tok comes from
    * arithmetic on the pre-explode token count (no re-tokenization of
    * the chunk text). */
  def chunkForEmbedding(df: DataFrame, idCol: String, textCol: String,
      window: Int = 30, stride: Int = 20): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val toks = tokens(col(textCol))
    val n = size(toks)
    val nChunks = when(n <= window, lit(1)).otherwise(
      lit(1) + ceil((n - window).cast(DoubleType) / stride).cast(IntegerType))
    df.select(col(idCol).as("doc_id"), toks.as("__toks"), n.as("__n"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_pos"))
      .select(col("doc_id"), col("chunk_pos"),
        concat_ws(" ",
          slice(col("__toks"), col("chunk_pos") * stride + 1, lit(window)))
          .as("chunk_text"),
        least(lit(window), col("__n") - col("chunk_pos") * stride)
          .cast(LongType).as("n_tok"))
  }

  /** Vocabulary build: every distinct token with its total occurrence
    * count and a CONTIGUOUS global rank by (count desc, token asc) — the
    * id assignment step of tokenizer/vocab construction, stable given the
    * corpus. Returns (t, cnt, rank), rank 1..|vocab|.
    *
    * Scale: the naive `row_number() OVER (ORDER BY cnt DESC)` is a
    * single-reducer global window — the same cliff [[SampleOps.packIntoShards]]
    * avoids. Instead: range-repartition the vocabulary-sized count table
    * on the rank key (Spark samples range bounds), sort within
    * partitions, and assign global indexes via zipWithIndex's
    * O(partitions) offset exchange. The count agg partial-combines, so
    * hot tokens never skew the shuffle. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    val counts = df
      .select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
      .repartitionByRange(col("cnt").desc, col("t").asc)
      .sortWithinPartitions(col("cnt").desc, col("t").asc)
    val rdd = counts.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(r.getString(0), r.getLong(1), i + 1L)
    }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("t", StringType), StructField("cnt", LongType),
      StructField("rank", LongType))))
  }

  /** Gopher-style duplicate n-gram stats per document: total word n-grams,
    * how many of those occurrences belong to a within-document duplicate
    * (count > 1), and their fraction — the "fraction in duplicate n-grams"
    * repetition signal at token granularity, integer-exact up to the one
    * final double division (which independent engines reproduce bitwise).
    * Same ONE map-only per-partition kernel shape as
    * [[wordRepetitionStats]]: the n-gram counts live in a per-document
    * hash map, zero shuffle at any scale, versus exploding |ngrams| rows
    * per document into a two-level groupBy. Documents with fewer than `n`
    * tokens emit nothing (the fraction is undefined). */
  def dupNgramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n > 0, "n must be positive")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("n_ngrams", LongType), StructField("n_dup", LongType),
      StructField("dup_frac", DoubleType)))
    val rdd = df.select(col(idCol).cast(LongType), col(textCol)).rdd
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val text = if (r.isNullAt(1)) "" else r.getString(1)
          val toks = text.trim.split(" ").filter(_.nonEmpty)
          if (toks.length < n) None
          else {
            val counts = new scala.collection.mutable.HashMap[String, Long]
            var i = 0
            while (i + n <= toks.length) {
              val ng = toks.slice(i, i + n).mkString(" ")
              counts.update(ng, counts.getOrElse(ng, 0L) + 1L)
              i += 1
            }
            val total = (toks.length - n + 1).toLong
            val dup = counts.valuesIterator.filter(_ > 1L).sum
            Some(org.apache.spark.sql.Row(r.getLong(0), total, dup,
              dup.toDouble / total.toDouble))
          }
        }
      }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Corpus-level collocation mining: adjacent token pairs scored by
    * normalized lift cxy·N/(cx·cy) — the PMI argument without the log
    * (log is monotone, so the ranking is identical) and with ONE double
    * division, so independent engines agree bitwise on the ordering key.
    * Pairs below `minCount` are dropped (standard phrase-mining floor:
    * lift is noise on rare pairs). Returns the global top `k` as
    * (w1, w2, cxy, cx, cy, rank) — integer counts only, rank 1..k.
    *
    * Scale: bigram and unigram counts partial-combine before their
    * shuffles; the two vocabulary joins are Zipf-small (broadcast when
    * they fit, not forced). The global top-k plans as TakeOrdered —
    * O(k) per partition plus a driver merge of k·partitions rows —
    * never a single-reducer global sort; the rank column is assigned
    * AFTER the limit, so its window orders k rows, not the corpus. */
  def collocations(df: DataFrame, textCol: String, k: Int = 20,
      minCount: Long = 5L): DataFrame = {
    require(k > 0, "k must be positive")
    val uni = df.select(explode(tokens(col(textCol))).as("w"))
    val uc = uni.groupBy("w").agg(count(lit(1)).as("c"))
    // corpus size from the vocab-sized count table, not a second corpus scan
    val nt = uc.agg(sum(col("c")).cast(LongType).as("n"))
    val big = df.select(tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__toks")) - 1),
        i => struct(element_at(col("__toks"), i).as("w1"),
          element_at(col("__toks"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    val scored = bc
      .join(uc.select(col("w").as("w1"), col("c").as("cx")), "w1")
      .join(uc.select(col("w").as("w2"), col("c").as("cy")), "w2")
      .crossJoin(nt)
      .withColumn("score", (col("cxy") * col("n")).cast(DoubleType) /
        (col("cx") * col("cy")).cast(DoubleType))
    val ord = Seq(col("score").desc, col("w1").asc, col("w2").asc)
    val w = org.apache.spark.sql.expressions.Window.orderBy(ord: _*)
    scored.orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number().over(w).cast(LongType))
      .select("w1", "w2", "cxy", "cx", "cy", "rank")
  }

  /** Gopher-style repetition stats per document: total whitespace words,
    * distinct words, the top word's count, and the top-word fraction (the
    * "fraction of most common word" repetition signal; repetitive spam has
    * a high one). ONE map-only per-partition kernel — token counts live
    * in a per-document hash map, zero shuffle at any scale, versus the
    * explode spelling that shuffles |words| rows per document into a
    * two-level groupBy (measured 0.25 s vs 0.70 s on 20k docs × 60 words —
    * see TextPipelineSpec, which also pins kernel == explode spelling).
    * Documents with no words emit nothing (the fraction is undefined). */
  def wordRepetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("n_words", LongType), StructField("n_distinct", LongType),
      StructField("max_cnt", LongType), StructField("top_frac", DoubleType)))
    val rdd = df.select(col(idCol).cast(LongType), col(textCol)).rdd
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val text = if (r.isNullAt(1)) "" else r.getString(1)
          val counts = new scala.collection.mutable.HashMap[String, Long]
          var total = 0L
          text.trim.split(" ").foreach { w =>
            if (w.nonEmpty) {
              counts.update(w, counts.getOrElse(w, 0L) + 1L); total += 1L
            }
          }
          if (total == 0L) None
          else {
            val maxCnt = counts.valuesIterator.max
            Some(org.apache.spark.sql.Row(r.getLong(0), total,
              counts.size.toLong, maxCnt,
              maxCnt.toDouble / total.toDouble))
          }
        }
      }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(w => t === w).reduce(_ || _)))

  val enMarkers = Seq("the", "a", "of", "and")
  val deMarkers = Seq("der", "die", "das", "und")
  val esMarkers = Seq("el", "la", "los", "y")

  /** n-gram/stopword language-ID heuristic: argmax of per-language marker
    * token counts, integer arithmetic only (deterministic across engines). */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val en = countIn(t, enMarkers)
    val de = countIn(t, deMarkers)
    val es = countIn(t, esMarkers)
    when(en >= de && en >= es && en > 0, "en")
      .when(de > en && de >= es, "de")
      .when(es > en && es > de, "es")
      .otherwise("und")
  }

  /** 64-bit SimHash over the distinct token set, bit b derived from bit b of
    * md5(token) (first 16 hex digits = 64 bits, MSB-first), emitted as a
    * 64-char '0'/'1' string so any engine can reproduce it without a shared
    * 64-bit hash function. Input: a DataFrame with (id, text); output
    * (id, simhash).
    *
    * Computed as ONE map-only per-partition kernel — per document: tokenize,
    * md5 each distinct token, accumulate 64 ±1 votes, emit the sign bits.
    * Zero shuffle at any scale (the earlier explode + 64-partial-agg
    * spelling shuffled |tokens| rows per document). Semantics are identical:
    * vote b = 2·bit_b(md5(token)) − 1 summed over distinct tokens,
    * bit = sum ≥ 0 — exactly the DuckDB oracle's arithmetic.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType), StructField("simhash", StringType)))
    val rdd = df.select(col(idCol).cast(LongType), col(textCol))
      .rdd.mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val votes = new Array[Int](64)
          val seen = new scala.collection.mutable.HashSet[String]
          // same tokenization as tokens(): trim, split on single spaces
          r.getString(1).trim.split(" ", -1).foreach { t =>
            if (seen.add(t)) {
              md.reset()
              val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              // first 8 md5 bytes as a big-endian 64-bit word = the oracle's
              // "first 16 hex digits, MSB-first" bit stream
              var h = 0L
              var i = 0
              while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
              var b = 0
              while (b < 64) {
                if (((h >>> (63 - b)) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
                b += 1
              }
            }
          }
          val sb = new StringBuilder(64)
          var b = 0
          while (b < 64) { sb.append(if (votes(b) >= 0) '1' else '0'); b += 1 }
          org.apache.spark.sql.Row(r.getLong(0), sb.toString)
        }
      }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** SimHash near-dup pairs by EXACT hamming distance (Manku/Jain/Das
    * Sarma 2007's web-dedup shape): every pair of documents whose 64-bit
    * [[simhash]] fingerprints differ in at most `maxHamming` bits.
    * Candidates come from the block pigeonhole — the fingerprint splits
    * into maxHamming+1 contiguous blocks, and a pair within distance k
    * must agree EXACTLY on at least one block (k differing bits can
    * touch at most k blocks) — so the only join is a bucketed equi-join
    * on (block index, block bits), never an all-pairs product, and the
    * result is exact, not approximate: candidates then verify by true
    * hamming distance (the bit string parsed as two 32-bit halves →
    * codegen'd conv + xor + bit_count, no per-character work).
    *
    * Scale: each document contributes maxHamming+1 bucket rows; bucket
    * width is 64/(k+1) bits, so random-ish fingerprints spread across
    * ~2^16 buckets at the default k=3. A corpus of exact-duplicate
    * boilerplate concentrates buckets exactly where it concentrates true
    * near-dups — the candidate volume is then proportional to the real
    * answer, and the verify is one integer op per candidate. Returns
    * (ida, idb, hd), ida < idb. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 15,
      "blocks need >= 4 bits each for useful bucketing")
    val nb = maxHamming + 1
    val w = 64 / nb
    // reused by both candidate sides — checkpoint so the per-partition
    // simhash kernel runs once
    val sh = simhash(df, idCol, textCol)
      .select(col(idCol).cast(LongType).as("id"), col("simhash"))
      .localCheckpoint()
    val blockArr = array((0 until nb).map { i =>
      substring(col("simhash"), i * w + 1, if (i == nb - 1) 64 - i * w else w)
    }: _*)
    def half(c: Column, off: Int): Column =
      conv(substring(c, off, 32), 2, 10).cast(LongType)
    // each block row CARRIES its fingerprint as two packed 64-bit halves,
    // so the hamming verify computes INLINE in the block join — the old
    // shape deduped bare (ida, idb) candidates and then re-attached the
    // fingerprints with two more joins (two extra exchanges of the
    // candidate set; guide §2.4 — remove shuffles outright). 16 extra
    // bytes per block row through the first shuffle buys the candidate
    // set never shuffling again, and the dedup now runs on verified
    // near-dup pairs (≤ the candidates) after a cheap codegen'd
    // xor+bit_count per candidate occurrence.
    val blocks = sh.select(col("id"),
      half(col("simhash"), 1).as("h1"), half(col("simhash"), 33).as("h2"),
      posexplode(blockArr).as(Seq("blk", "key")))
    blocks.select(col("id").as("ida"), col("h1").as("h1a"),
        col("h2").as("h2a"), col("blk"), col("key"))
      .join(blocks.select(col("id").as("idb"), col("h1").as("h1b"),
          col("h2").as("h2b"), col("blk").as("b2"), col("key").as("k2")),
        col("blk") === col("b2") && col("key") === col("k2") &&
          col("ida") < col("idb"))
      .withColumn("hd",
        (bit_count(col("h1a").bitwiseXOR(col("h1b"))) +
          bit_count(col("h2a").bitwiseXOR(col("h2b")))).cast(LongType))
      .filter(col("hd") <= maxHamming)
      .select(col("ida"), col("idb"), col("hd")).distinct()
  }

  /** SimHash near-dup CLUSTERING — the composition the Manku web-dedup
    * use-case actually runs (VERDICT r13 #2): collapse EXACT duplicates
    * first, fingerprint one representative per family, connect
    * representatives by hamming distance, and label every document with
    * its cluster's canonical (smallest) doc id. The collapse is
    * semantically lossless: [[simhash]] here derives from the DISTINCT
    * token set (per-token md5 bit votes), so token-set-equal documents
    * — exactly the [[tokenSetFingerprint]] families of the q44
    * discipline — carry IDENTICAL fingerprints, and dropping the
    * replicas changes no pair decision, only the cost.
    *
    * Why this beats emitting pairs (q154): on boilerplate-heavy corpora
    * the pair OUTPUT is the bottleneck — a replica family of size f
    * contributes f·(f-1)/2 pairs but only ONE representative node here,
    * so the candidate join, the verify, and the output are all
    * family-collapsed: cost tracks distinct content + the cluster
    * labeling (n rows), not the quadratic pair count. Stages: one
    * fp groupBy (shuffle on fp), the q154 block-pigeonhole join over
    * representatives, pointer-jumping CC (log-diameter rounds over
    * edge-sized frames), one id-sized attach join. Returns
    * (id, cluster): cluster = min doc id over the hamming component of
    * the doc's representative, including all replicas (a replica family
    * whose representative is isolated clusters at the family's min id). */
  def simhashNearDupClusters(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val fp = df.select(col(idCol).cast(LongType).as("id"),
        tokenSetFingerprint(col(textCol)).as("fp"))
      .localCheckpoint() // read twice: family min + attach
    val reps = fp.groupBy("fp").agg(min("id").as("rep"))
    val docRep = fp.join(reps, "fp").select("id", "rep")
    val repDocs = df.select(col(idCol).cast(LongType).as("id"),
        col(textCol))
      .join(reps.select(col("rep").as("id")), "id")
    val pairs = simhashNearDupPairs(repDocs, "id", textCol, maxHamming)
    val cc = connectedComponents(pairs.select(col("ida"), col("idb")))
      .select(col("id").as("rep"), col("cluster"))
    docRep.join(cc, Seq("rep"), "left")
      .select(col("id"), coalesce(col("cluster"), col("rep")).as("cluster"))
  }

  /** MinHash signatures + banded LSH candidate pairs + exact-Jaccard
    * verification. Returns (id_a, id_b, jaccard) for pairs with
    * J(shingles) >= threshold. numHashes hash functions in bands of
    * rowsPerBand; recall for J >= t is 1-(1-t^r)^b (0.5^4/32 bands:
    * ~1-6e-8 at J=0.8, ~0.999.. at J=0.5 with r=2).
    *
    * The only shuffle joins are on (band, bandHash) buckets and on doc ids —
    * no all-pairs product anywhere.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 128, rowsPerBand: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val banded = minhashBandTable(df, idCol, textCol, shingleN, numHashes, rowsPerBand)
    val shingled = banded.select(col("id"), col("shingles"))
    val candidates = bandCandidates(banded, numBands)
    // exact verification: Jaccard from the true shingle sets (integer
    // counts -> division is bit-identical across engines)
    val sa = shingled.select(col("id").as("ida"), col("shingles").as("sha"))
    val sb = shingled.select(col("id").as("idb"), col("shingles").as("shb"))
    candidates.join(sa, "ida").join(sb, "idb")
      .withColumn("jaccard",
        size(array_intersect(col("sha"), col("shb"))).cast(DoubleType) /
          size(array_union(col("sha"), col("shb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"), col("jaccard"))
  }

  /** EXACT n-gram Jaccard near-duplicate pairs via PREFIX FILTERING (the
    * AllPairs/PPJoin candidate rule) — the third dedup family next to
    * MinHash-LSH (approximate, banded) and SimHash (hamming distance).
    *
    * A naive inverted-index join (candidates = docs sharing ANY shingle)
    * blows up on high-document-frequency shingles: one bigram shared by
    * 10^4 docs emits 10^8 candidate pairs by itself (measured: 63s for q67
    * at sf0.1 vs ~1s with the prefix filter). Prefix filtering keeps
    * exactness and kills exactly that fan-out: order all shingles by
    * (global df asc, shingle) — rarest first — and index each document
    * ONLY on its first |x| − ⌈t·|x|⌉ + 1 shingles in that order. Any pair
    * with Jaccard ≥ t must intersect in ≥ ⌈t·|x|⌉ shingles, which cannot
    * all hide outside the prefix, so every qualifying pair shares a prefix
    * shingle. Candidates then verify exactly against the full shingle sets.
    *
    * Two global shingle orders, chosen by `prefixOrder`:
    *
    *  - `"hash"` (default): order by (shingle hash, shingle). Any fixed
    *    total order preserves exactness, and hash order lets the whole
    *    index — shingling AND prefix selection — run inside ONE map-only
    *    kernel with no df shuffle and no per-doc refold; hash collisions
    *    only ever ADD candidates (a qualifying pair shares a prefix shingle
    *    string, hence its hash). Fastest at sf0.1, where two extra shuffle
    *    rounds of fixed overhead outweigh its ~2× extra candidates.
    *  - `"df"`: classic rarest-first (document-frequency ascending) order —
    *    two extra shuffles (global df count + per-doc rank window), but
    *    high-df shingles sort to the END of every document and drop out of
    *    all prefixes. On a skewed corpus (one shingle shared by a large doc
    *    fraction) the candidate set shrinks by the square of that
    *    fraction — the right trade at lake scale, where candidate volume
    *    dominates fixed job costs (the r5 verdict's explicit crossover).
    *
    * Both verify exactly, so the RESULT is identical (spec-pinned); only
    * the candidate count differs. Every join is a bucketed equi-join — no
    * cartesian (PlanSpec).
    *
    *  - `"auto"` (default): measure, don't ask the caller to know the
    *    corpus. One vocabulary-sized df aggregation estimates the
    *    hash-order candidate volume as Ĉ ≈ ρ²·Σ df(s)²⁄2 (ρ = 1 − t, the
    *    prefix fraction hash order samples uniformly); below
    *    `autoPairBudget` pairs the fan-out is cheaper than df-order's two
    *    extra shuffle rounds (measured crossover: Ĉ≈9M at sf0.1 runs ~2×
    *    faster hash-ordered), above it candidate volume dominates
    *    quadratically and rarest-first wins. The df table is reused by the
    *    df path when chosen, so the estimate is never a wasted pass there.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, threshold: Double = 0.5,
      prefixOrder: String = "auto",
      autoPairBudget: Double = defaultAutoPairBudget): DataFrame = {
    val base = ngramSignatures(df, idCol, textCol, n, threshold)
    val candidates = ngramPrefixCandidates(base, threshold, prefixOrder,
      autoPairBudget)
    // Two-stage verify (the q114 containment pattern). Stage 1 runs the
    // candidate bulk through a sorted merge-intersect over the 64-bit
    // fingerprint MULTISETS — the pair payload is two long arrays instead
    // of two string arrays, which is what overflowed the 32-partition
    // shuffle at the 100× rehearsal scale (the string payload, not the
    // candidate count: 3–5× the bytes per pair). Collision-proof, not
    // merely collision-improbable: the arrays are NOT deduped, so each
    // distinct string contributes its own element (|hs| = |A| exactly)
    // and every common string aligns its own element on both sides —
    // multiset intersection i_h ≥ exact i, hence
    // i_h/(|A|+|B|−i_h) ≥ i/(|A|+|B|−i) = J. Testing that upper bound
    // ≥ t passes a strict superset of the qualifying pairs; stage 2
    // re-verifies the few (result-sized) survivors exactly on the string
    // sets.
    val ha = base.select(col("id").as("ida"), col("hs").as("hsa"))
    val hb = base.select(col("id").as("idb"), col("hs").as("hsb"))
    // localCheckpoint: the .rdd conversion below plans WITHOUT AQE, which
    // turns these joins into sort-merge; materializing through the
    // DataFrame action keeps them adaptive (broadcast at this scale)
    val hJoined = candidates.join(ha, "ida").join(hb, "idb")
      .select(col("ida"), col("idb"), col("hsa"), col("hsb"))
      .localCheckpoint()
    val survSchema = StructType(Seq(StructField("ida", LongType),
      StructField("idb", LongType)))
    val survivors = hJoined.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val a = r.getSeq[Long](2); val b = r.getSeq[Long](3)
        var i = 0; var j = 0; var inter = 0
        while (i < a.size && j < b.size) {
          val x = a(i); val y = b(j)
          if (x == y) { inter += 1; i += 1; j += 1 }
          else if (x < y) i += 1
          else j += 1
        }
        if (inter.toDouble / (a.size + b.size - inter) >= threshold)
          Some(org.apache.spark.sql.Row(r.getLong(0), r.getLong(1)))
        else None
      }
    }
    // dedup here — candidates may repeat (hash order skips the distinct;
    // df order emits one row per shared prefix shingle), and the survivor
    // set is result-sized, far cheaper to shuffle than the candidate set
    val survDf = df.sparkSession.createDataFrame(survivors, survSchema)
      .distinct()
    // stage 2: exact scoring on the full shingle sets, survivors only —
    // scored in a per-partition kernel: Catalyst's array_intersect/
    // array_union on string arrays measured 9.4s for 225k candidate pairs
    // at sf0.1 where the same set intersection in plain JVM code is
    // milliseconds
    val sa = base.select(col("id").as("ida"), col("sh").as("sha"))
    val sb = base.select(col("id").as("idb"), col("sh").as("shb"))
    val joined = survDf.join(sa, "ida").join(sb, "idb")
      .select(col("ida"), col("idb"), col("sha"), col("shb"))
      .localCheckpoint()
    val outSchema = StructType(Seq(StructField("ida", LongType),
      StructField("idb", LongType), StructField("jaccard", DoubleType)))
    val scored = joined.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val a = r.getSeq[String](2)
        val b = r.getSeq[String](3)
        val aset = a.toSet
        var inter = 0
        b.foreach(x => if (aset.contains(x)) inter += 1)
        val j = inter.toDouble / (a.size + b.size - inter)
        if (j >= threshold)
          Some(org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), j))
        else None
      }
    }
    df.sparkSession.createDataFrame(scored, outSchema)
  }

  /** Shingle sets + hash-order prefixes + sorted 64-bit fingerprints
    * (id, sh, pre, hs) as one per-partition kernel, materialized ONCE
    * (read by the index build and both verify sides); the Column spelling
    * of shingling is an interpreted higher-order function — measured 3s
    * slower at sf0.1. `hs` (sorted distinct FNV-1a-64 of each shingle)
    * feeds the stage-1 merge-intersect verify, which never ships the
    * string arrays — at the 100× rehearsal scale the string payload per
    * candidate pair is what overflowed the 32-partition shuffle. */
  private[graft] def ngramSignatures(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): DataFrame = {
    val sigSchema = StructType(Seq(StructField("id", LongType),
      StructField("sh", ArrayType(StringType)),
      StructField("pre", ArrayType(LongType)),
      StructField("hs", ArrayType(LongType))))
    val rdd = df.select(col(idCol).cast(LongType), col(textCol)).rdd
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val toks = Option(r.getString(1)).map(_.trim.split(" ")).getOrElse(Array.empty)
          if (toks.length < n) None
          else {
            val seen = new scala.collection.mutable.LinkedHashSet[String]
            var i = 0
            while (i + n <= toks.length) {
              seen += toks.slice(i, i + n).mkString(" "); i += 1
            }
            val sz = seen.size
            val k = sz - math.ceil(threshold * sz).toInt + 1
            val pre = seen.toArray
              .map(s => (scala.util.hashing.MurmurHash3.stringHash(s).toLong, s))
              .sorted.take(k).map(_._1).distinct
            // NO dedup: one array element per distinct STRING, so the
            // array length is the true set size and the stage-1 multiset
            // merge-intersect can only overcount (see the verify proof)
            val hs = seen.toArray.map(fnv1a64).sorted
            Some(org.apache.spark.sql.Row(r.getLong(0), seen.toSeq,
              pre.toSeq, hs.toSeq))
          }
        }
      }
    df.sparkSession.createDataFrame(rdd, sigSchema).localCheckpoint()
  }

  /** Default candidate-pair budget for the auto prefix-order policy —
    * comfortably above the measured sf0.1 volume (~9M pairs, where hash
    * order still wins by two shuffle rounds) and far below the volumes
    * where a skewed lake-scale corpus melts down (one shingle in 1% of
    * 10⁹ docs alone is 5·10¹³ pairs). */
  val defaultAutoPairBudget: Double = 5e7

  /** The auto policy's decision, factored out for observability: estimate
    * hash-order candidate volume from a df table and return which order to
    * run. With `sampleRate` < 1 the df table came from a doc sample at that
    * rate and the Σdf² estimate applies the unbiased correction
    * `Σ(df_s² − (1−p)·df_s)/p²` (E[df_s²] = p²df² + p(1−p)df under
    * per-doc inclusion) — hot shingles appear in every doc sample with
    * df_s ≈ p·df, so skew detection never rides an inclusion lottery the
    * way sampling shingle TYPES would. Doubles avoid overflow at any
    * scale. */
  private[graft] def choosePrefixOrder(dfTab: DataFrame, threshold: Double,
      autoPairBudget: Double, sampleRate: Double = 1.0): String = {
    val p = sampleRate
    val d = col("df").cast(DoubleType)
    // coalesce: an empty df table (tiny corpus whose 1-in-8 doc sample
    // came up empty) sums to NULL, not 0 — getDouble would throw
    val sumD2 = dfTab
      .agg(coalesce(sum((d * d - lit(1.0 - p) * d) / lit(p * p)), lit(0.0)))
      .head.getDouble(0)
    val rho = 1.0 - threshold
    if (rho * rho * sumD2 / 2.0 > autoPairBudget) "df" else "hash"
  }

  /** PPJoin's LENGTH filter, applied inside both candidate joins: Jaccard
    * ≥ t implies |x∩y| ≤ min(|x|,|y|) and |x∪y| ≥ max(|x|,|y|), hence
    * min/max ≥ t — so any size-incompatible pair can be dropped BEFORE the
    * verify join ever fetches its full shingle arrays. Exactness is
    * untouched (the filter is implied by the threshold); what it buys is
    * quadratic: a hot prefix bucket of B docs with mixed sizes emits only
    * the size-compatible fraction of B²/2. */
  private def lengthCompatible(threshold: Double): Column =
    least(col("sza"), col("szb")).cast(DoubleType) >=
      lit(threshold) * greatest(col("sza"), col("szb")).cast(DoubleType)

  /** Candidate pairs from the prefix index over `base` (id, sh, pre) — see
    * [[ngramJaccardPairs]] for the orders. Package-visible so specs can
    * measure candidate volume independently of the verified result. */
  private[graft] def ngramPrefixCandidates(base: DataFrame, threshold: Double,
      prefixOrder: String,
      autoPairBudget: Double = defaultAutoPairBudget): DataFrame = {
    def dfTable = base.select(col("id"), explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
    def dfOrder(dfTab: DataFrame): DataFrame = {
      // rarest-first: global document frequency per shingle (partial-agg
      // count, no skew risk in the agg itself), then each doc keeps the k
      // lowest-(df, shingle) shingles via a per-doc rank window (partitioned
      // by id — never a global sort). High-df shingles rank last and fall
      // out of every prefix, so the hot-shingle quadratic fan-out never
      // reaches the candidate join.
      val ex = base.select(col("id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("df"), col("s"))
      val prefixes = ex.join(dfTab, "s")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
        .select(col("id"), col("sz"), col("s"), col("rn"))
      // PPJoin positional filter: at a shared shingle ranked rna in A and
      // rnb in B (same global order), the intersection can reach at most
      // 1 + min(|A|−rna, |B|−rnb), while J ≥ t needs
      // i ≥ t·(|A|+|B|)/(1+t). A qualifying pair's FIRST common shingle
      // (which lies in both prefixes — the prefix theorem, applied to the
      // lowest-ranked common shingle) always passes: every other common
      // shingle ranks after it on BOTH sides, so the bound at that
      // occurrence is ≥ i. Non-first occurrences may drop; the verify
      // stage dedups survivors anyway. 1e-9 slack keeps the double
      // spelling of t/(1+t) provably one-sided (can only ADD candidates).
      val positional =
        (lit(1) + least(col("sza") - col("rna"), col("szb") - col("rnb")))
          .cast(DoubleType) * lit(1.0 + threshold) >=
          lit(threshold) * (col("sza") + col("szb")).cast(DoubleType) - lit(1e-9)
      prefixes.select(col("id").as("ida"), col("sz").as("sza"), col("s"),
          col("rn").as("rna"))
        .join(prefixes.select(col("id").as("idb"), col("sz").as("szb"),
          col("s").as("s2"), col("rn").as("rnb")),
          col("s") === col("s2") && col("ida") < col("idb") &&
            lengthCompatible(threshold) && positional)
        .select("ida", "idb")
    }
    prefixOrder match {
      case "hash" =>
        val prefixes = base.select(col("id"), size(col("sh")).as("sz"),
          explode(col("pre")).as("h"))
        // no distinct here: pairs sharing several prefix hashes are rare
        // (measured raw ≈ distinct), so dedup waits for the far smaller
        // verified output instead of shuffling the whole candidate set
        prefixes.select(col("id").as("ida"), col("sz").as("sza"), col("h"))
          .join(prefixes.select(col("id").as("idb"), col("sz").as("szb"),
            col("h").as("h2")),
            col("h") === col("h2") && col("ida") < col("idb") &&
              lengthCompatible(threshold))
          .select("ida", "idb")
      case "df" => dfOrder(dfTable)
      case "auto" =>
        // the decision runs on a DETERMINISTIC 1-in-8 doc sample (hash of
        // id), not the full corpus: the common hash-order outcome then
        // costs ~1/8 of a df pass instead of a full explode+shuffle
        // (measured: the full-table decision added ~12% to q67 when hash
        // order won anyway). Doc sampling keeps hot shingles visible at
        // df_s ≈ df/8; choosePrefixOrder applies the unbiased Σdf²
        // correction. A df-order win recomputes the full table — that
        // branch's rank join dwarfs the extra pass.
        val p = 1.0 / 8.0
        val sampled = base.filter(pmod(xxhash64(col("id")), lit(8)) === 0)
          .select(col("id"), explode(col("sh")).as("s"))
          .groupBy("s").agg(count(lit(1)).as("df"))
        choosePrefixOrder(sampled, threshold, autoPairBudget, p) match {
          case "df" => dfOrder(dfTable)
          case _ => ngramPrefixCandidates(base, threshold, "hash")
        }
      case other => throw new IllegalArgumentException(
        s"prefixOrder must be 'auto', 'hash' or 'df', got '$other'")
    }
  }

  /** Shingling + minhash + banding as one map-only kernel, materialized once
    * (localCheckpoint): columns (id, shingles, b0..b{numBands-1}). */
  private[graft] def minhashBandTable(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, numHashes: Int, rowsPerBand: Int)
    : DataFrame = {
    val numBands = numHashes / rowsPerBand
    // Shingling + minhash + banding as ONE per-partition imperative kernel:
    // word n-grams, numHashes seeded FNV-1a-style hashes and band hashes in
    // tight loops, map-only (no explode/groupBy shuffle, no giant
    // expression tree — the same rationale as AnnOps signatures). The hash
    // family is an internal detail: only the exact-Jaccard verification
    // below defines the result, so any deterministic 64-bit hash is sound.
    // Shingle definition matches wordShingles()/the oracle: trim, split on
    // single spaces, n-gram join with spaces, distinct.
    val bandSchema = StructType(
      StructField("id", LongType) +:
        StructField("shingles", ArrayType(StringType)) +:
        (0 until numBands).map(j => StructField(s"b$j", LongType)))
    val bandRdd = df.select(col(idCol).cast(LongType).as("id"), col(textCol))
      .rdd.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val toks = r.getString(1).trim.split(" ", -1)
          val shingles = new scala.collection.mutable.LinkedHashSet[String]
          var t = 0
          while (t + shingleN <= toks.length) {
            shingles += toks.slice(t, t + shingleN).mkString(" ")
            t += 1
          }
          val sig = Array.fill(numHashes)(Long.MaxValue)
          shingles.foreach { s =>
            // base FNV-1a 64 of the shingle, then one mix per hash index
            var h = 0xcbf29ce484222325L
            var ci = 0
            while (ci < s.length) { h = (h ^ s.charAt(ci)) * 0x100000001b3L; ci += 1 }
            var i = 0
            while (i < numHashes) {
              var m = h ^ (i * 0x9E3779B97F4A7C15L)
              m ^= (m >>> 33); m *= 0xff51afd7ed558ccdL; m ^= (m >>> 33)
              if (m < sig(i)) sig(i) = m
              i += 1
            }
          }
          val out = new Array[Any](numBands + 2)
          out(0) = id
          out(1) = shingles.toSeq
          var j = 0
          while (j < numBands) {
            var bh = 0xcbf29ce484222325L ^ j
            var r0 = 0
            while (r0 < rowsPerBand) {
              bh = (bh ^ sig(j * rowsPerBand + r0)) * 0x100000001b3L
              r0 += 1
            }
            out(j + 2) = bh
            j += 1
          }
          org.apache.spark.sql.Row(out: _*)
        }
      }
    // materialized once; band join and both verification sides reuse it
    df.sparkSession.createDataFrame(bandRdd, bandSchema).localCheckpoint()
  }

  /** Banded LSH candidate pairs (ida < idb) from a [[minhashBandTable]].
    *
    * Skew guard: docs with < shingleN tokens have an EMPTY shingle set, so
    * every one of them carries the identical all-MaxValue signature and
    * identical band hashes — at lake scale billions of short docs would
    * pile into the same numBands buckets and the candidate join goes
    * quadratic. They can never pass the Jaccard threshold (|union|=0), so
    * dropping them from the band join changes nothing in the result.
    */
  private[graft] def bandCandidates(banded: DataFrame, numBands: Int): DataFrame = {
    val bandLong = banded.filter(size(col("shingles")) > 0).select(col("id"),
      posexplode(array((0 until numBands).map(j => col(s"b$j")): _*))
        .as(Seq("band", "bh")))
    val a = bandLong.select(col("id").as("ida"), col("band"), col("bh"))
    val b = bandLong.select(col("id").as("idb"), col("band").as("band2"), col("bh").as("bh2"))
    a.join(b,
        col("band") === col("band2") && col("bh") === col("bh2") &&
          col("ida") < col("idb"))
      .select(col("ida"), col("idb")).distinct()
  }

  /** Connected components over an undirected near-duplicate pair set
    * (`ida`, `idb`): dedup at pipeline level keeps ONE representative per
    * cluster, and pairs alone don't define clusters — transitive closure
    * does.
    *
    * Min-label propagation WITH POINTER JUMPING (path halving — the
    * Shiloach-Vishkin shortcutting step): each round every node first takes
    * the minimum label over itself and its neighbors (one edge-sized join +
    * partial-aggregated shuffle), then shortcuts `lbl ← lbl(lbl)` (one
    * node-sized self-join of the label table). The reach of a label roughly
    * doubles per round, so convergence is O(log diameter) — a 10^6-long
    * chain converges in ~20 rounds where plain propagation needs 10^6 —
    * while the per-round cost stays within one node-sized join of plain
    * propagation. (The alternating large-star/small-star formulation has
    * the same round bound but re-derives edge-sized star sets per round —
    * measured ~50% slower on the shallow-cluster q60 bench, so this
    * formulation wins on both ends.) Rounds are localCheckpointed so plans
    * stay flat; `maxIters` is a runaway guard that throws rather than
    * returning a silently unfinished clustering.
    *
    * Output: (id, cluster) for every node that appears in a pair, with
    * cluster = min doc id of its component (the canonical keep-lowest-id
    * rule). */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponentsStar(pairs, maxIters)._1

  /** Implementation, exposing the round count so the convergence spec can
    * pin the O(log n) behavior. */
  private[graft] def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 50)
    : (DataFrame, Int) = {
    val half = pairs.select(col("ida").cast(LongType).as("a"),
      col("idb").cast(LongType).as("b"))
    val edges = half
      .unionByName(half.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint()
    var iter = 0
    var changed = true
    while (changed) {
      iter += 1
      if (iter > maxIters)
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxIters rounds")
      // 1. neighbor-min: lbl ← min(lbl, labels of neighbors)
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("lbl").as("nlbl")), "b")
        .groupBy(col("a").as("id")).agg(min(col("nlbl")).as("mn"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl"),
          least(col("lbl"), coalesce(col("mn"), col("lbl"))).as("s1"))
      // 2. pointer jump: lbl ← lbl(lbl). Every label IS a node id (labels
      // only ever copy ids of same-component nodes), so the lookup is a
      // self-join of the label table; labels can only shrink, never dangle.
      val jmap = stepped.select(col("id").as("jid"), col("s1").as("jlbl"))
      // checkpointFlatStats, not plain localCheckpoint: each round joins
      // the previous round's checkpoint 4×, and Spark propagates the
      // ESTIMATED stats through LogicalRDD — the estimate's bit length
      // grows 4^round and overflowed the planner at the 100× rehearsal's
      // ~15-round depth (see T.checkpointFlatStats)
      val next = graft.T.checkpointFlatStats(
        stepped.join(jmap, col("s1") === col("jid"), "left")
          .select(col("id"), col("lbl"),
            coalesce(col("jlbl"), col("s1")).as("s2")))
      changed = next.filter(col("s2") < col("lbl")).limit(1).count() > 0
      labels = next.select(col("id"), col("s2").as("lbl"))
    }
    (labels.select(col("id"), col("lbl").as("cluster")), iter)
  }

  /** BM25 term-weight retrieval: the top `topK` documents per query term by
    * Okapi BM25 score (Robertson idf with Lucene's +1 floor, so idf is
    * always positive). Returns (term, rank, doc_id, tf, dl, score).
    *
    * Scale (100 TB): per-doc term frequencies come from a map-side
    * array-filter + generator explode over the (small, broadcast-literal)
    * query term list — the corpus is never shuffled and never tokenized
    * into an exploded token table. The only shuffles are (a) the
    * term-document-frequency aggregation, bounded by the matched postings
    * and reduced map-side to ≤|terms| rows, and (b) the top-k itself,
    * which runs TWO-PHASE: a per-(term, salt-bucket) row_number keeps topK
    * rows per bucket, then the global per-term rank sees ≤ 64·topK rows —
    * a hot term's full posting list never lands on one reducer (the naive
    * `row_number() OVER (PARTITION BY term)` spelling does exactly that).
    *
    * Determinism: tf/dl/df/N are integers; avgdl is one integer division;
    * every float op mirrors the oracle SQL's parse tree ULP-for-ULP except
    * `ln`, whose last-ulp variance across libm implementations is absorbed
    * by rounding the score to 6 decimals (ordering ties broken by doc_id
    * on the ROUNDED score in both engines). */
  def bm25TermTopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val toks = tokens(col(textCol))
    val pairs = array(terms.map(t =>
      struct(lit(t).as("term"),
        size(filter(toks, x => x === lit(t))).as("tf"))): _*)
    val m = df
      .select(col(idCol).cast(LongType).as("doc_id"), size(toks).as("dl"),
        explode(pairs).as("p"))
      .select(col("doc_id"), col("dl"), col("p.term"), col("p.tf"))
      .filter(col("tf") > 0)
    // corpus scalars: one partial-agg pass, attached as a 1-row broadcast
    val stats = df.select(size(toks).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
      .select(col("n_docs"),
        (col("tot").cast(DoubleType) / col("n_docs")).as("avgdl"))
    val dft = m.groupBy("term").agg(count(lit(1)).as("dfc"))
    val idf = log(
      (col("n_docs") - col("dfc") + lit(0.5)) / (col("dfc") + lit(0.5)) +
        lit(1.0))
    val norm = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
    val scored = m.join(broadcast(dft), "term")
      .crossJoin(broadcast(stats))
      .withColumn("score",
        round(idf * (col("tf") * (lit(k1) + lit(1.0))) / norm, 6))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"), pmod(xxhash64(col("doc_id")), lit(64)))
      .orderBy(col("score").desc, col("doc_id"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("__rn1", row_number().over(w1))
      .filter(col("__rn1") <= topK)
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= topK)
      .select(col("term"), col("rank"), col("doc_id"), col("tf"), col("dl"),
        col("score"))
  }

  /** Bigram language-model quality score per document — the CCNet/KenLM
    * quality-filter skeleton: train an add-one-smoothed bigram LM on the
    * corpus itself, score each document by its mean bigram log-probability
    * ln((c(w1,w2) + 1) / (c(w1) + V)). Low scores flag incoherent or
    * boilerplate text. Returns (doc_id, n_bigrams, avg_logprob) for
    * documents with ≥ 2 tokens.
    *
    * Scale (100 TB): the bigram/unigram count tables are the only shuffles
    * — both partial-aggregated map-side and Zipf-sublinear in the corpus;
    * the two tables join into one per-bigram score table (count-table-
    * sized, broadcast when it fits) so the exploded bigram stream joins
    * back exactly ONCE and re-aggregates per doc. No windows, no
    * collects; V is one scalar attached as a 1-row broadcast.
    *
    * Determinism: counts and V are integers; each bigram's log-probability
    * is rounded to 6 decimals and scaled to a LONG before the per-doc sum,
    * so partial-agg order cannot move a bit (a raw double sum would be
    * order-dependent and could never hash-match an oracle). `ln`'s
    * last-ulp libm variance is absorbed by the same rounding (q112's
    * argument). */
  def bigramLmDocScores(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val base = df
      .select(col(idCol).cast(LongType).as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 2)
    val big = base.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val uni = df.select(explode(tokens(col(textCol))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = uni.agg(count(lit(1)).as("vsz"))
    val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // per-bigram score table FIRST (guide §2.3/§2.4): t is a pure
    // function of (w1, w2) — joining uni+V onto the bigram COUNT table
    // (Zipf-sublinear) instead of onto the exploded corpus-sized bigram
    // stream removes one stream-sized shuffle: the stream then joins
    // once on (w1, w2) rather than once on (w1, w2) and again on w1.
    // Bit-identical: every stream row finds exactly one (c2, c1, vsz)
    // triple either way, and the rounded fixed-point arithmetic is
    // unchanged.
    val bs = bc.join(uni, "w1")
      .crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        round(log((col("c2") + lit(1.0)) / (col("c1") + col("vsz"))) *
          lit(1000000)).cast(LongType).as("t"))
    val term = big.join(bs, Seq("w1", "w2"))
      .select(col("doc_id"), col("t"))
    term.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("t")).cast(DoubleType) /
          (lit(1000000.0) * count(lit(1))), 6).as("avg_logprob"))
  }

  /** Exact n-gram CONTAINMENT pairs: (ida, idb, containment) for every
    * ORDERED pair with |A∩B| / |A| ≥ threshold (A = doc ida's shingle set).
    * Containment is the asymmetric cousin of q67's Jaccard: it catches a
    * small document embedded verbatim inside a larger one (quoted posts,
    * boilerplate wrappers, subset duplicates) that Jaccard misses because
    * the union is dominated by the host document.
    *
    * Same prefix-filtering exactness argument as [[ngramJaccardPairs]],
    * adapted to asymmetry: a qualifying pair shares ≥ ⌈t·|A|⌉ shingles, of
    * which at most |A| − k = ⌈t·|A|⌉ − 1 can avoid A's first
    * k = |A| − ⌈t·|A|⌉ + 1 shingles in a FIXED global order — so probing
    * with A's prefix against an index of ALL of B's shingles finds every
    * pair. The only admissible length filter is one-sided (|B| ≥ t·|A|,
    * since |A∩B| ≤ |B|); there is no upper bound on |B|, which is the
    * point. Candidates dedup BEFORE the verify join (the full-postings
    * index makes multi-shingle hits common, unlike the prefix×prefix
    * join).
    *
    * Scale: both joins are bucketed equi-joins on the shingle / id keys —
    * never a cross product. The global order is ALWAYS rarest-first
    * (document frequency ascending): because the index side must carry
    * every shingle regardless, a hot shingle reached by probe prefixes
    * costs df_probe·df_index ~ df² pairs — under hash order (which
    * samples prefixes uniformly) the 10× rehearsal measured 80 s against
    * 9 s rarest-first, since df order drops hot shingles out of every
    * probe prefix and they then generate NO candidates at all. The
    * symmetric Jaccard kernel's hash-vs-df auto policy does not transfer:
    * there the index side is also a prefix, so hash order's fan-out is
    * only ρ²·df², 1/ρ smaller. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val base = shingleSigs(df, idCol, textCol, n).localCheckpoint()
    val ex = base.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // probe prefixes: per-doc rank in (df asc, shingle) order, keep the
    // first sz − ⌈t·sz⌉ + 1 — partitioned by id, never a global sort
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("s"))
    // both sides rank their shingles in the same (df asc, shingle) order:
    // the probe keeps only its prefix, the index keeps every position but
    // CARRIES it for PPJoin's positional filter below
    val ranked = ex.join(dfTab, "s").withColumn("rn", row_number().over(w))
    val probe = ranked
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id").as("ida"), col("sz").as("sza"), col("s"),
        col("rn").as("rna"))
    val target = ranked.select(col("id").as("idb"), col("sz").as("szb"),
      col("s").as("s2"), col("rn").as("rnb"))
    val candidates = containmentCandidates(probe, target, threshold)
    containmentVerify(candidates, base, base, threshold)
  }

  /** Per-doc containment signature: distinct n-gram shingles in
    * first-occurrence order (`sh`) plus their SORTED FNV-64 fingerprints
    * (`hs`) — the shared kernel of [[ngramContainmentPairs]] and the
    * persisted [[ShingleIndex]]. Docs shorter than n tokens drop out.
    * Map-only (one row per doc in, one out), and kept inside `df`'s plan
    * (not an RDD round trip), so an observation on `df` completes with
    * the action that reads the result. */
  private[llm] def shingleSigs(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val sigSchema = StructType(Seq(StructField("id", LongType),
      StructField("sh", ArrayType(StringType)),
      StructField("hs", ArrayType(LongType))))
    df.select(col(idCol).cast(LongType), col(textCol))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val toks = Option(r.getString(1)).map(_.trim.split(" "))
            .getOrElse(Array.empty)
          if (toks.length < n) None
          else {
            val seen = new scala.collection.mutable.LinkedHashSet[String]
            var i = 0
            while (i + n <= toks.length) {
              seen += toks.slice(i, i + n).mkString(" "); i += 1
            }
            // sorted 64-bit fingerprints for the merge-intersect verify
            val hs = seen.toArray.map(fnv1a64).sorted
            Some(org.apache.spark.sql.Row(r.getLong(0), seen.toSeq, hs.toSeq))
          }
        }
      }(org.apache.spark.sql.Encoders.row(sigSchema))
  }

  /** Containment candidate join: probe prefix rows (ida, sza, s, rna)
    * against full-postings rows (idb, szb, s2, rnb). The positional
    * filter's exactness depends on both sides ranking common shingles in
    * the SAME global (df asc, shingle asc) order (see the proof below);
    * when the two sides may carry ranks from DIFFERENT order snapshots
    * (the epoch-append ShingleIndex), `sameOrder` names the predicate
    * under which the orders provably coincide — the positional filter is
    * applied ONLY there, and mixed-order rows keep just the prefix
    * pigeonhole + length filter (still a superset of the qualifying
    * pairs; the exact verify downstream makes any superset safe). The
    * default `lit(true)` is the single-snapshot case. Emits deduped
    * (ida, idb). */
  private[llm] def containmentCandidates(probe: DataFrame,
      target: DataFrame, threshold: Double,
      sameOrder: Column = lit(true)): DataFrame = {
    // positional filter: at a common shingle sitting at rank rna of A and
    // rnb of B, the intersection can reach at most
    // 1 + min(|A|−rna, |B|−rnb); a pair whose EVERY generating occurrence
    // is below ⌈t·|A|⌉ cannot qualify, and a qualifying pair's first
    // common shingle always passes (all ⌈t·|A|⌉−1 remaining common
    // shingles rank after it on both sides) — so the filter is exact
    val positional =
      lit(1) + least(col("sza") - col("rna"), col("szb") - col("rnb")) >=
        ceil(lit(threshold) * col("sza"))
    // the join key is the shingle's 64-bit hash, not its text: the
    // equi-join shuffle then moves 8 B/posting instead of the gram
    // string (the q148 hashed-key dial, here unconditionally safe —
    // equal strings always hash equal so no true candidate is lost, and
    // a collision's false candidate dies in containmentVerify's exact
    // stage-2, so the output is collision-PROOF, not just improbable)
    probe.withColumn("kh", xxhash64(col("s"))).drop("s")
      .join(target.withColumn("kh2", xxhash64(col("s2"))).drop("s2"),
        col("kh") === col("kh2") && col("ida") =!= col("idb") &&
          col("szb").cast(DoubleType) >= lit(threshold) * col("sza").cast(DoubleType) &&
          (not(sameOrder) || positional))
      .select("ida", "idb").distinct()
  }

  /** Two-stage containment verify over candidate (ida, idb) pairs; sigsA
    * and sigsB are (id, sh, hs) signature frames for the probe and target
    * corpora ([[shingleSigs]] shape — possibly the same frame, possibly a
    * persisted index's sigs dataset).
    *
    * Stage 1 runs the candidate bulk through a sorted merge-intersect
    * over 64-bit shingle fingerprints — no string hashing, no per-pair
    * set builds (measured 6.1 s → sub-second on 206k sf0.1 candidates).
    * A fingerprint collision can only INFLATE the intersection (equal
    * strings hash equal), so stage 1 passes a SUPERSET of the qualifying
    * pairs; stage 2 re-verifies the few survivors exactly on the string
    * sets, so the result is collision-proof, not merely
    * collision-improbable. Stage-1 bound: each distinct string
    * contributes its own element (|hs| = |A| exactly) and every common
    * string aligns its own element on both sides — the two-pointer
    * intersection i_h ≥ exact i, so i_h ≥ t·|A| passes a strict superset
    * of the qualifying pairs. */
  private[llm] def containmentVerify(candidates: DataFrame,
      sigsA: DataFrame, sigsB: DataFrame, threshold: Double): DataFrame = {
    val spark = candidates.sparkSession
    val ha = sigsA.select(col("id").as("ida"), col("hs").as("hsa"))
    val hb = sigsB.select(col("id").as("idb"), col("hs").as("hsb"))
    val hJoined = candidates.join(ha, "ida").join(hb, "idb")
      .select(col("ida"), col("idb"), col("hsa"), col("hsb"))
      .localCheckpoint()
    val survSchema = StructType(Seq(StructField("ida", LongType),
      StructField("idb", LongType)))
    val survivors = hJoined.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val a = r.getSeq[Long](2)
        val b = r.getSeq[Long](3)
        var i = 0; var j = 0; var inter = 0
        while (i < a.size && j < b.size) {
          val x = a(i); val y = b(j)
          if (x == y) { inter += 1; i += 1; j += 1 }
          else if (x < y) i += 1
          else j += 1
        }
        if (inter.toDouble >= threshold * a.size)
          Some(org.apache.spark.sql.Row(r.getLong(0), r.getLong(1)))
        else None
      }
    }
    val survDf = spark.createDataFrame(survivors, survSchema)
    val sa = sigsA.select(col("id").as("ida"), col("sh").as("sha"))
    val sb = sigsB.select(col("id").as("idb"), col("sh").as("shb"))
    val joined = survDf.join(sa, "ida").join(sb, "idb")
      .select(col("ida"), col("idb"), col("sha"), col("shb"))
      .localCheckpoint()
    val outSchema = StructType(Seq(StructField("ida", LongType),
      StructField("idb", LongType), StructField("containment", DoubleType)))
    val scored = joined.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val a = r.getSeq[String](2)
        val b = r.getSeq[String](3)
        val bset = b.toSet
        var inter = 0
        a.foreach(x => if (bset.contains(x)) inter += 1)
        // the predicate mirrors the oracle's `len(∩) >= t * len(A)` double
        // arithmetic exactly (int-to-double promote, one multiply)
        if (inter.toDouble >= threshold * a.size)
          Some(org.apache.spark.sql.Row(r.getLong(0), r.getLong(1),
            inter.toDouble / a.size))
        else None
      }
    }
    spark.createDataFrame(scored, outSchema)
  }

  /** FNV-1a 64-bit over UTF-8 bytes — a portable, allocation-free 64-bit
    * string fingerprint for the merge-intersect verify fast path. */
  private[graft] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}
