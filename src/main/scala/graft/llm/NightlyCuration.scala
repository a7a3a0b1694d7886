package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The store-backed nightly curation cycle — the composition all five
  * persisted stores exist for (VERDICT r12 #1). A recurring training-data
  * pipeline holds a curated lake plus one store per serving concern:
  *
  *  - [[BloomHistory]] — "is tonight's document already in the lake"
  *    (exact-verified membership),
  *  - [[ShingleIndex]] — "is it near-contained in a lake document"
  *    (n-gram containment, partition-pruned batch sweep),
  *  - [[TextIndex]] — lexical retrieval over the lake (BM25 / rare-token),
  *  - the IVF index ([[AnnOps.buildIvfIndex]]) — dense retrieval,
  *  - [[SimGraphStore]] — the incremental near-dup similarity graph.
  *
  * Each night: [[admit]] gates the incoming batch (cheap quality
  * predicates first, then the Bloom probe, then the containment sweep —
  * cheapest-first so each stage shrinks the next one's input), and
  * [[appendAll]] folds the admitted documents into every store via its
  * own incremental append path. No stage rescans the lake — in text or
  * otherwise: the Bloom probe broadcasts a one-row filter, its hits
  * verify exactly against the store's persisted FINGERPRINT SIDECAR
  * (the lake fingerprint column as a store-owned dataset — fp-bytes,
  * bucket-pruned to the hits; VERDICT r13 #1), the containment sweep
  * reads only the batch's pruned postings buckets, and every append is
  * batch-sized. The night takes NO lake frame argument at all;
  * spec-pinned by deleting the lake files after bootstrap and running
  * the night anyway.
  *
  * Exactness under composition: each store's append == rebuild property
  * is individually spec/gate-pinned (q140/q141/q76/q120/q136), so the
  * composed cycle equals the from-scratch pipeline over
  * history ∪ admitted — which is exactly what the q144 gate oracles.
  *
  * Scale (100 TB lens): one night's cost is
  * O(batch + pruned-postings + Bloom-hit verifies); the lake-sized
  * costs (index builds) were paid once at bootstrap. Measured at 100×
  * by a one-off probe: the "100× night" entry of STATUS.md's round-13
  * list. */
object NightlyCuration {

  /** Paths of the five persisted stores under one root. */
  final case class Stores(root: String) {
    val bloom: String = s"$root/bloom"
    val shingle: String = s"$root/shingle"
    val text: String = s"$root/text"
    val ivf: String = s"$root/ivf"
    val graph: String = s"$root/graph"
  }

  /** Bootstrap every store from the existing lake (one-time cost; the
    * nightly path never does this again). `historyEmb` rows are
    * (vec_id, embedding) aligned with `history`'s ids — documents
    * without an embedding simply never enter the IVF index.
    *
    * `simGraphEdgeBudget` (VERDICT r14 #3): when set, the similarity
    * graph's df cap is DERIVED from this edge-row budget and the lake's
    * own df histogram ([[SimGraphStore.capForEdgeBudget]] — the exact
    * retained pair volume, which is also the fold's shuffle volume)
    * instead of the hand-set `simGraphCap`; the 1000× rehearsal showed
    * the hand-set default filling the disk on a corpus whose safe cap
    * was data-dependent. */
  def initStores(spark: SparkSession, stores: Stores, history: DataFrame,
      historyEmb: DataFrame, idCol: String, textCol: String, n: Int = 3,
      nBuckets: Int = 64, dim: Int = 64, nCentroids: Int = 16,
      simGraphCap: Long = 50L, simGraphMinCommon: Long = 2L,
      bloomMBits: Int = 1 << 20,
      simGraphEdgeBudget: Option[Long] = None): Unit = {
    // the five builds touch disjoint store directories and share only the
    // read-only history frames — run them CONCURRENTLY (guide §2.6:
    // overlap independent jobs) so each build's scheduling gaps and
    // straggler tails back-fill with the next store's tasks instead of
    // idling the cluster; at the 100× rehearsal the simgraph fold (304 s)
    // dominated a serial bootstrap whose other four builds (~65 s
    // combined) now ride inside its tail for free
    graft.sources.ParJobs.run(Seq(
      () => {
        BloomHistory.init(spark, stores.bloom, mBits = bloomMBits)
        BloomHistory.append(spark, stores.bloom, history, textCol)
      },
      () => ShingleIndex.build(history, idCol, textCol, stores.shingle, n,
        nBuckets),
      () => TextIndex.buildIndex(history, idCol, textCol, stores.text,
        nBuckets),
      () => AnnOps.buildIvfIndex(historyEmb, stores.ivf, dim, nCentroids,
        centroids = Some(AnnOps.seedCentroids(historyEmb, nCentroids, dim))),
      () => {
        val cap = simGraphEdgeBudget.fold(simGraphCap)(b =>
          SimGraphStore.capForEdgeBudget(
            SimGraphStore.postingsOf(history, idCol, textCol, n), b))
        SimGraphStore.init(spark, stores.graph, n, cap, simGraphMinCommon)
        SimGraphStore.update(spark, stores.graph, history, idCol, textCol)
      }))
  }

  /** Tonight's admission gate, cheapest-first:
    *  1. quality predicates (map-only): ≥ `minTokens` tokens and a
    *     distinct-token ratio ≥ `minUniqueRatio` (the q121 gates);
    *  2. exact-dup drop via the Bloom store: probe the broadcast filter,
    *     re-verify hits exactly against the store's FINGERPRINT SIDECAR
    *     (the lake fingerprint column, persisted batch-by-batch by
    *     [[BloomHistory.append]]) — output is exact, never dropping a
    *     novel document to a filter false positive, and the lake corpus
    *     is read ZERO times (VERDICT r13 #1);
    *  3. near-dup drop via the shingle index: documents whose shingle
    *     set is ≥ `containmentThreshold` contained in ANY lake document
    *     (partition-pruned batch sweep, never a corpus scan).
    * Returns the admitted rows of `batch` (all columns preserved). The
    * whole gate runs from the stores alone — no lake frame argument, no
    * stage that could scale with the lake (spec-pinned by deleting the
    * lake files after bootstrap and admitting anyway). */
  def admit(spark: SparkSession, stores: Stores, batch: DataFrame,
      idCol: String, textCol: String,
      minTokens: Int = 8, minUniqueRatio: Double = 0.3,
      containmentThreshold: Double = 0.8): DataFrame = {
    // tokenize ONCE into a projected column: the filter predicate
    // references tokens three times, and FilterExec codegen does not
    // common-subexpression-eliminate — three split() passes per document
    // otherwise (guide §1.2: per-task work, don't compute twice)
    require(!batch.columns.contains("__q_toks"),
      "admission batch already carries a __q_toks column — withColumn " +
        "would silently clobber it")
    val quality = batch
      .withColumn("__q_toks", TextOps.tokens(col(textCol)))
      .filter(size(col("__q_toks")) >= minTokens &&
        size(array_distinct(col("__q_toks"))) >=
          lit(minUniqueRatio) * size(col("__q_toks")))
      .drop("__q_toks")
    val exactDups = BloomHistory.dedupFromStore(spark, stores.bloom,
      quality, idCol, textCol)
      .withColumnRenamed("doc_id", idCol)
    val fresh = quality.join(exactDups, Seq(idCol), "left_anti")
    val contained = ShingleIndex.containmentAgainst(spark, stores.shingle,
        fresh, idCol, textCol, containmentThreshold)
      .select(col("ida").as(idCol)).distinct()
    fresh.join(contained, Seq(idCol), "left_anti")
  }

  /** Fold the admitted documents into every store via its incremental
    * append path — each one batch-sized work (class doc). `admittedEmb`
    * carries the admitted ids' embeddings (possibly empty). */
  def appendAll(spark: SparkSession, stores: Stores, admitted: DataFrame,
      admittedEmb: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): Unit = {
    // five disjoint stores, one shared read-only input — append them
    // CONCURRENTLY (guide §2.6). Callers pass a materialized `admitted`
    // (the gate localCheckpoints it), so the five plans re-read blocks,
    // not the admission lineage.
    graft.sources.ParJobs.run(Seq(
      () => BloomHistory.append(spark, stores.bloom, admitted, textCol): Unit,
      () => ShingleIndex.appendToIndex(spark, stores.shingle, admitted,
        idCol, textCol): Unit,
      () => TextIndex.appendToIndex(spark, stores.text, admitted, idCol,
        textCol),
      () => AnnOps.appendToIvfIndex(spark, stores.ivf, admittedEmb,
        dim): Unit,
      () => SimGraphStore.update(spark, stores.graph, admitted, idCol,
        textCol): Unit))
  }

  /** The MAINTENANCE SLOT between nights: pull every store's operational
    * dial in one place —
    *  - [[ShingleIndex.compactionDue]] (epoch depth, the r13 cadence
    *    policy) → [[ShingleIndex.compactIndex]];
    *  - [[SimGraphStore.compactionDue]] (delta depth, the r12 cadence
    *    policy) → [[SimGraphStore.compact]];
    *  - text-index / IVF / fingerprint-sidecar small-files growth past
    *    `maxDataFiles` (one file — or one sidecar partition — lands per
    *    append, the classic small-files death) →
    *    [[TextIndex.compactIndex]] / [[AnnOps.compactIvfIndex]] /
    *    [[BloomHistory.compactFingerprints]];
    *  - [[BloomHistory.estimatedFpRate]] past `fpBudget` →
    *    [[BloomHistory.rebuild]] from the fingerprint sidecar (fp-bytes,
    *    never lake text), sized in ONE shot from the store's own
    *    per-shard items at its fixed k: m = k·n/(-ln(1-p^(1/k))), next
    *    power of two — so a filter driven arbitrarily far over budget
    *    lands under budget in one slot (doubling once per slot could
    *    need many slots). When that sizing exceeds `maxFilterBits` (the
    *    [[graft.functions.BloomFilterAgg]] single-filter buffer cap,
    *    2^27 — VERDICT r14 #5: the old policy rebuilt the SAME-size
    *    filter every slot forever once clamped there) the slot GROWS
    *    THE SHARD COUNT instead: the smallest power-of-two shard count
    *    whose per-shard sizing fits the cap, one sidecar-pass re-shard
    *    rebuild — the fp budget stays real at any lake size.
    * Every action is individually crash-safe (rewrite-then-swap or
    * marker-committed), so a kill mid-slot leaves each store old or
    * new, never torn, and the next slot simply resumes. Serves are
    * unchanged by construction (each compaction's output-identity is
    * spec/gate-pinned). Returns the actions taken, for the operator's
    * log. Runs from the stores alone — no lake frame argument. */
  def maintenance(spark: SparkSession, stores: Stores,
      fpBudget: Double = 0.01,
      maxShingleEpochs: Int = 4, maxGraphDeltas: Int = 4,
      maxDataFiles: Int = 64, maxFilterBits: Long = 1L << 27): Seq[String] = {
    // per-store slots run CONCURRENTLY (guide §2.6): the four compactions
    // and the Bloom slot touch disjoint store directories; only the two
    // Bloom actions (sidecar compaction, then the fp-rate rebuild that
    // reads the sidecar) order within their slot. Actions report in a
    // fixed store order regardless of completion order.
    val slots: Seq[() => Seq[String]] = Seq(
      () => if (ShingleIndex.compactionDue(spark, stores.shingle,
          maxShingleEpochs)) {
        ShingleIndex.compactIndex(spark, stores.shingle)
        Seq("shingle: compacted (epoch depth)")
      } else Nil,
      () => if (SimGraphStore.compactionDue(spark, stores.graph,
          maxGraphDeltas)) {
        SimGraphStore.compact(spark, stores.graph)
        Seq("graph: compacted (delta depth)")
      } else Nil,
      () => if (graft.sources.ParquetCompaction.dataFileCount(spark,
          s"${stores.text}/postings") > maxDataFiles) {
        TextIndex.compactIndex(spark, stores.text)
        Seq("text: compacted (small files)")
      } else Nil,
      () => if (graft.sources.ParquetCompaction.dataFileCount(spark,
          s"${stores.ivf}/cells") > maxDataFiles) {
        AnnOps.compactIvfIndex(spark, stores.ivf)
        Seq("ivf: compacted (small files)")
      } else Nil,
      () => bloomSlot(spark, stores, fpBudget, maxDataFiles, maxFilterBits))
    graft.sources.ParJobs.map(slots).flatten
  }

  /** The Bloom store's maintenance slot (sidecar small-files compaction,
    * then the fp-rate rebuild — ordered because the rebuild reads the
    * sidecar the compaction rewrites). */
  private def bloomSlot(spark: SparkSession, stores: Stores,
      fpBudget: Double, maxDataFiles: Int,
      maxFilterBits: Long): Seq[String] = {
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    // the sidecar exists only after the first append; guard the listing
    val fpRoot = new org.apache.hadoop.fs.Path(
      BloomHistory.fpPath(stores.bloom))
    val fpFs = fpRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fpFs.exists(fpRoot) &&
        graft.sources.ParquetCompaction.dataFileCount(spark,
          BloomHistory.fpPath(stores.bloom)) > maxDataFiles) {
      BloomHistory.compactFingerprints(spark, stores.bloom)
      actions += "bloom-fp: compacted (small files)"
    }
    if (BloomHistory.estimatedFpRate(spark, stores.bloom) > fpBudget) {
      val (mBits, k, nItems, _) = BloomHistory.readMeta(spark, stores.bloom)
      val nShards = BloomHistory.readShards(spark, stores.bloom)
      // one-shot sizing (class doc) for the store's FIXED k (rebuild
      // preserves k): (1-e^(-kn/m))^k ≤ p ⟺ m ≥ k·n/(-ln(1-p^(1/k))) —
      // the optimal-k textbook formula undersizes slightly at fixed k.
      // Rounded up to a power of two, never shrinking below the current
      // size, so one rebuild always lands at or under budget. Sized per
      // SHARD (each shard holds ~nItems/nShards of the fingerprints).
      val p = fpBudget.min(0.5).max(1e-9)
      def idealBits(n: Long): Long = math.ceil(
        k * n.max(1L) / -math.log1p(-math.pow(p, 1.0 / k))).toLong
      def pow2AtLeast(x: Long): Long =
        java.lang.Long.highestOneBit(x.max(64L) * 2L - 1L)
      def perShard(s: Long): Long = (nItems + s - 1) / s
      val sized = pow2AtLeast(idealBits(perShard(nShards)))
      if (sized > maxFilterBits) {
        // per-shard sizing exceeds the single-filter cap — rebuilding
        // at the clamped size every slot changes nothing (the r14
        // loop-forever case); grow the shard count to the smallest
        // power of two whose per-shard sizing fits the cap instead
        var s2 = nShards.toLong * 2L
        while (idealBits(perShard(s2)) > maxFilterBits) s2 *= 2L
        val shardBits = pow2AtLeast(idealBits(perShard(s2)))
          .min(maxFilterBits).toInt
        BloomHistory.rebuild(spark, stores.bloom, shardBits, newK = k,
          newNShards = Some(s2.toInt))
        actions += ("bloom: fp budget unreachable at mBits=" +
          s"$mBits x nShards=$nShards (cap $maxFilterBits) — " +
          s"resharded to nShards=$s2 at mBits=$shardBits")
      } else if (sized > mBits) {
        BloomHistory.rebuild(spark, stores.bloom, sized.toInt, newK = k)
        actions += s"bloom: rebuilt at mBits=$sized (fp rate)"
      } else {
        // the formula says the current layout already meets the budget
        // yet the measured occupancy disagrees — an unreachable budget
        // (e.g. 0) or estimate-vs-formula skew; a same-size rebuild
        // would change nothing, so skip LOUDLY instead of looping
        actions += (s"bloom: fp rate over budget $fpBudget at " +
          s"already-sized mBits=$mBits x nShards=$nShards — rebuild " +
          "skipped (budget unreachable at this sizing; correctness " +
          "unaffected — hits re-verify exactly)")
      }
    }
    actions.toSeq
  }
}
