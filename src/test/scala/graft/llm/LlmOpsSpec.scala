package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkTestBase {


  test("multimodal decode stub: schema, batch plumbing, deterministic features") {
    import spark.implicits._
    val docs = Seq((1L, "ab"), (2L, "hello world")).toDF("doc_id", "text")
    val media = MultimodalOps.asMediaTable(docs, "doc_id", "text")
    // names/types must match the declared contract (nullability may tighten)
    assert(media.schema.map(f => (f.name, f.dataType.simpleString)) ==
      MultimodalOps.mediaSchema.map(f => (f.name, f.dataType.simpleString)))
    val byId = MultimodalOps.decodeStub(media).collect()
      .map(r => r.getLong(0) -> ((r.getInt(3), r.getInt(4), r.getLong(5)))).toMap
    // "ab": width = 'a'+1 = 98, height = 'b'+1 = 99, checksum = 97+98
    assert(byId(1L) == ((98, 99, 195L)))
    assert(byId(2L)._3 == "hello world".getBytes("UTF-8").map(_ & 0xff).sum.toLong)
  }

  test("multimodal resize stub caps payloads and keeps metadata consistent") {
    import spark.implicits._
    val docs = Seq((1L, "short"), (2L, "a" * 100)).toDF("doc_id", "text")
    val resized = MultimodalOps.resizeStub(
      MultimodalOps.asMediaTable(docs, "doc_id", "text"), maxBytes = 16)
    assert(resized.schema.map(f => (f.name, f.dataType.simpleString)) ==
      MultimodalOps.mediaSchema.map(f => (f.name, f.dataType.simpleString)))
    val byId = resized.collect().map { r =>
      r.getLong(0) -> ((r.getAs[Array[Byte]](1).length, r.getStruct(2).getLong(1)))
    }.toMap
    assert(byId(1L) == ((5, 5L)))   // under the cap: untouched
    assert(byId(2L) == ((16, 16L))) // capped, meta matches payload
  }

  test("multimodal frame sampling emits every Nth frame up to the cap") {
    import spark.implicits._
    // 270 chars = 9 frames of 32 (last partial); stride 4 → frames 0,4,8
    val docs = Seq((1L, "x" * 270), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val frames = MultimodalOps.sampleFramesStub(docs, "doc_id", "text",
      frameChars = 32, stride = 4, maxFrames = 8).collect()
    assert(frames.forall(_.getLong(0) == 1L)) // empty/null docs emit nothing
    val idxs = frames.map(_.getLong(1)).sorted.toSeq
    assert(idxs == Seq(0L, 4L, 8L))
    // the sampled tail frame is the 270-char doc's partial frame: 14 chars
    val last = frames.find(_.getLong(1) == 8L).get
    assert(last.getInt(3) == 270 - 8 * 32)
  }

  test("minhash LSH pairs: full recall vs brute force at this scale") {
    val docs = graft.T.documents(spark, sf)
    val lsh = TextOps.minhashLshPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the true shingle sets
    val sh = docs.select(col("doc_id").as("id"),
      TextOps.wordShingles(col("text"), 3).as("s"))
    val a = sh.select(col("id").as("ida"), col("s").as("sa"))
    val b = sh.select(col("id").as("idb"), col("s").as("sb"))
    val brute = a.join(b, col("ida") < col("idb"))
      .filter(size(array_intersect(col("sa"), col("sb"))) * 2 >=
        size(array_union(col("sa"), col("sb"))))
      .select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute, s"LSH missed ${brute.diff(lsh)} / extra ${lsh.diff(brute)}")
  }

  test("ngram jaccard df-order prefix cuts hot-shingle candidates, same result") {
    import spark.implicits._
    // 300 docs of 6 distinct bigrams each: 5 unique + the hot "common anchor"
    // bigram shared by ALL of them. threshold 0.5 -> prefix keeps 4 of 6
    // shingles, so under hash order the hot shingle lands in ~2/3 of the
    // prefixes (quadratic candidate fan-out); under df order it has the
    // highest document frequency, sorts last in every doc, and falls out of
    // every prefix. Both orders must return the identical verified pairs.
    val hot = (0 until 300).map { i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e common anchor")
    }
    val dups = Seq(
      (900L, "alpha beta gamma delta epsilon zeta"),
      (901L, "alpha beta gamma delta epsilon eta"))
    val docs = (hot ++ dups).toDF("doc_id", "text")
    val base = TextOps.ngramSignatures(docs, "doc_id", "text", n = 2, threshold = 0.5)
    val nHash = TextOps.ngramPrefixCandidates(base, 0.5, "hash").count()
    val nDf = TextOps.ngramPrefixCandidates(base, 0.5, "df").count()
    assert(nDf * 2 <= nHash,
      s"df-order candidates ($nDf) should be well under half of hash-order ($nHash)")
    def pairs(order: String) =
      TextOps.ngramJaccardPairs(docs, "doc_id", "text", n = 2,
        threshold = 0.5, prefixOrder = order)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val hashPairs = pairs("hash")
    assert(pairs("df") == hashPairs)
    assert(hashPairs.map(p => (p._1, p._2)).contains((900L, 901L)))
  }

  test("auto prefix order flips with corpus skew, identical results") {
    import spark.implicits._
    // uniform corpus: every bigram unique -> sum(df^2) = vocab, tiny estimate
    val uniform = (0 until 100).map(i => (i.toLong, s"u${i}a u${i}b u${i}c"))
      .toDF("doc_id", "text")
    // skewed corpus: one bigram in all 300 docs -> sum(df^2) >= 90000
    val skewed = (0 until 300)
      .map(i => (i.toLong, s"u${i}a u${i}b hot shingle"))
      .toDF("doc_id", "text")
    def mode(docs: org.apache.spark.sql.DataFrame, budget: Double) = {
      val base = TextOps.ngramSignatures(docs, "doc_id", "text", 2, 0.5)
      val dfTab = base.select(col("id"), explode(col("sh")).as("s"))
        .groupBy("s").agg(count(lit(1)).as("df"))
      TextOps.choosePrefixOrder(dfTab, 0.5, budget)
    }
    // budget sized between the two corpora's estimates: rho^2 * sum(df^2)/2
    // = 0.25 * ~300/2 = ~38 (uniform) vs >= 0.25 * 90000/2 = 11250 (skewed)
    assert(mode(uniform, budget = 1000) == "hash")
    assert(mode(skewed, budget = 1000) == "df")
    // and both under the DEFAULT budget stay hash at this toy scale —
    // the flip needs real volume, not just relative skew
    assert(mode(skewed, TextOps.defaultAutoPairBudget) == "hash")
    // auto returns the identical verified pairs as both explicit modes
    def pairsOf(order: String, budget: Double) =
      TextOps.ngramJaccardPairs(skewed, "doc_id", "text", n = 2,
        threshold = 0.5, prefixOrder = order, autoPairBudget = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaDf = pairsOf("auto", 1000) // flips to df
    assert(viaDf == pairsOf("hash", 1000))
    assert(viaDf == pairsOf("auto", TextOps.defaultAutoPairBudget)) // hash
  }

  test("simhash is stable and discriminative") {
    import spark.implicits._
    val docs = Seq((1L, "the cat sat"), (2L, "the cat sat"), (3L, "a dog ran fast"))
      .toDF("doc_id", "text")
    val out = TextOps.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
    assert(out(1L).length == 64 && out(1L).forall(c => c == '0' || c == '1'))
  }

  test("simhash hamming pairs: block pigeonhole loses nothing vs brute " +
      "force, at several thresholds, on a near-dup-heavy corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(55)
    val vocab = (0 until 40).map(i => s"w$i").toVector
    def mkDoc(len: Int): Seq[String] =
      (0 until len).map(_ => vocab(rnd.nextInt(vocab.size)))
    // token-permuted copies → IDENTICAL fingerprints (hd = 0, present at
    // every threshold); 1-edit copies of LONG docs → small nonzero
    // distances (the flipped bits are the near-zero-margin votes); plus
    // independent docs
    val perms = (0 until 6).flatMap { f =>
      val base = mkDoc(60)
      Seq((100L + f * 10, base.mkString(" ")),
        (101L + f * 10, rnd.shuffle(base).mkString(" ")))
    }
    val fams = (0 until 12).flatMap { f =>
      val base = mkDoc(100)
      (0 until 3).map { m =>
        val v = base.toArray; v(m) = s"x$f$m"
        (200L + f * 10 + m, v.mkString(" "))
      }
    }
    val docs = ((0L until 30L).map(i => (i, mkDoc(20).mkString(" ")))
        ++ perms ++ fams)
      .toDF("doc_id", "text").localCheckpoint()
    val fp = TextOps.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for (k <- Seq(1, 3, 7)) {
      val got = TextOps.simhashNearDupPairs(docs, "doc_id", "text", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        a <- fp.keys; b <- fp.keys if a < b
        hd = fp(a).zip(fp(b)).count { case (x, y) => x != y }
        if hd <= k
      } yield (a, b, hd.toLong)).toSet
      assert(got == want, s"maxHamming=$k")
      assert(want.nonEmpty, s"fixture must produce pairs at k=$k")
    }
  }

  test("simhash clusters: replica families collapse to one node, labels " +
      "are component min ids over reps ∪ replicas, pair decisions match " +
      "the uncollapsed graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(56)
    val vocab = (0 until 40).map(i => s"w$i").toVector
    def mkDoc(len: Int): Seq[String] =
      (0 until len).map(_ => vocab(rnd.nextInt(vocab.size)))
    // replica families (token-permuted → same token SET → same rep),
    // 1-edit near-dup families (distinct fps, small hamming), singles
    val perms = (0 until 5).flatMap { f =>
      val base = mkDoc(60)
      (0 until 3).map(m =>
        (100L + f * 10 + m, rnd.shuffle(base).mkString(" ")))
    }
    val fams = (0 until 8).flatMap { f =>
      val base = mkDoc(100)
      (0 until 3).map { m =>
        val v = base.toArray; v(m) = s"x$f$m"
        (300L + f * 10 + m, v.mkString(" "))
      }
    }
    val docs = ((0L until 20L).map(i => (i, mkDoc(20).mkString(" ")))
        ++ perms ++ fams)
      .toDF("doc_id", "text").localCheckpoint()
    val got = TextOps.simhashNearDupClusters(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == docs.count())
    // reference: brute-force clusters over the UNCOLLAPSED pair graph —
    // replicas have identical fingerprints (hd=0 pairs), so collapsing
    // them must not change any component
    val pairs = TextOps.simhashNearDupPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    got.foreach { case (id, c) =>
      assert(c == find(id), s"doc $id: cluster $c != ${find(id)}") }
    // every replica family really did share a cluster
    (0 until 5).foreach { f =>
      val cs = (0 until 3).map(m => got(100L + f * 10 + m)).distinct
      assert(cs.size == 1, s"family $f split across clusters $cs")
    }
  }

  test("ann top-k agrees with brute-force ranking") {
    val emb = graft.T.embeddings(spark, sf)
    val got = AnnOps.topKForQueries(emb, emb.filter(col("vec_id") < 5), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.size == 15) // 5 queries x 3 neighbors
    assert(got.groupBy(_._1).forall(_._2.map(_._2) == Set(1L, 2L, 3L)))
  }

  test("KMV sketch estimates the distinct token count within its error bound") {
    val r = graft.SparkEntry.queries("q62_kmv_distinct")(spark, sf).collect().head
    val est = r.getDouble(2)
    val exact = r.getLong(3)
    // k=256 → standard error ~ 1/sqrt(k-1) ≈ 6%; assert a generous 4-sigma
    assert(math.abs(est - exact) / exact < 0.25,
      s"KMV estimate $est too far from exact $exact")
  }

  test("rolling fingerprint: known value, order sensitivity, empty doc") {
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, "world hello"), (3L, ""),
      (4L, null)).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), TextOps.rollingFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 285884129L) // independently computed reference value
    assert(got(1L) != got(2L))    // order-sensitive, unlike tokenSetFingerprint
    assert(got(3L) == 0L)
    assert(got(4L) == 0L) // null text
    // the kernel spelling computes the identical fold
    val kernel = TextOps.rollingFingerprints(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel == got)
  }

  test("connected components: chain, cycle, and isolated pair cluster correctly") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (cycle), {20,21} (pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("ida", "idb")
    val got = TextOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components match driver-side union-find on random graphs") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 200
      val edges = (0 until 300).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side truth: union-find with min-label canonicalization
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val truth = touched.map(id => id -> find(id.toInt).toLong).toMap
      val got = TextOps.connectedComponents(edges.toDF("ida", "idb")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // same partition AND the same canonical (min-id) labels
      assert(got == truth, s"seed $seed diverged")
    }
  }

  test("connected components converge in O(log n) rounds on a long chain") {
    import spark.implicits._
    // a 256-node chain has diameter 255: min-label propagation would need
    // ~255 rounds; alternating large-star/small-star halves depth per
    // round. Shuffle the edge order so convergence can't ride insertion
    // order, and offset ids so cluster != 0 is meaningful.
    val n = 256
    val edges = scala.util.Random.shuffle(
      (0 until n - 1).map(i => (i + 1000L, i + 1001L)).toList)
    val (labels, rounds) =
      TextOps.connectedComponentsStar(edges.toDF("ida", "idb"))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n)
    assert(got.values.forall(_ == 1000L))
    assert(rounds <= 15, s"expected O(log n) convergence, took $rounds rounds")
  }

  test("connected components survive planner stats estimation on deep loops") {
    import spark.implicits._
    // Regression for the 100×-rehearsal planner crash: Spark's
    // LogicalRDD.fromDataset propagates the ESTIMATED stats through
    // localCheckpoint, and each CC round's plan joins the previous
    // checkpoint 4× — so the size estimate's bit length grows 4^round
    // and Catalyst's BigInteger stats arithmetic overflows ("BigInteger
    // would overflow supported range") once the loop needs ~15 rounds.
    // A 65k-node chain (diameter 65535 → ~17 halving rounds) reproduces
    // the depth that crashed q86's 100× run; with T.checkpointFlatStats
    // severing the stats lineage every round, planning stays O(1) per
    // round and this completes.
    val n = 1 << 16
    val edges = (0 until n - 1).map(i => (i.toLong, i + 1L))
    val (labels, rounds) =
      TextOps.connectedComponentsStar(edges.toDF("ida", "idb"), maxIters = 40)
    assert(rounds >= 15, s"need ≥15 rounds to exercise the overflow depth, got $rounds")
    val counts = labels.groupBy("cluster").count().collect()
    assert(counts.length == 1 && counts.head.getLong(1) == n)
  }

  test("k-means|| centroids beat lowest-id seeds on a clustered corpus") {
    import spark.implicits._
    // 4 well-separated clusters with block-contiguous ids: the 4 lowest-id
    // seed centroids all land in cluster 0 — the degenerate case k-means||
    // exists to fix. Deterministic "noise" so the test replays exactly.
    val dim = 64
    val rows = for (c <- 0 until 4; i <- 0 until 50) yield {
      val id = (c * 50 + i).toLong // ids 0..49 are all cluster 0
      val emb = Array.tabulate(dim) { d =>
        val base = if (d == c * 8) 10.0f else 0.0f
        base + (math.sin(id * 7.0 + d) * 0.3).toFloat
      }
      (id, emb.toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 20)
    val exact = AnnOps.topKForQueries(corpus, queries, k = 5, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(cents: Option[Array[(Long, Array[Float], Double)]]): Double = {
      val got = AnnOps.ivfTopKForQueries(corpus, queries, k = 5, dim = dim,
          nCentroids = 4, nProbe = 1, centroids = cents)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val seedRecall = recall(None)
    val km = AnnOps.kmeansParCentroids(corpus, k = 4, dim = dim)
    assert(km.length == 4)
    val kmRecall = recall(Some(km))
    assert(kmRecall >= seedRecall,
      s"k-means|| recall $kmRecall must not trail seed recall $seedRecall")
    assert(kmRecall >= 0.9, s"spread centroids should give high recall, got $kmRecall")
  }

  test("IVF with all cells probed equals exact brute-force top-k") {
    val emb = graft.T.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = AnnOps.topKForQueries(emb, queries, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivfAll = AnnOps.ivfTopKForQueries(emb, queries, k = 3,
        nCentroids = 16, nProbe = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivfAll == exact, "nProbe = nCentroids must degenerate to exact search")
  }

  test("IVF cell pruning: probed fraction of the index bounds the scored rows") {
    val emb = graft.T.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val pruned = AnnOps.ivfTopKForQueries(emb, queries, k = 3,
      nCentroids = 16, nProbe = 2)
    val rows = pruned.collect()
    // still a full answer: k neighbors per query, ranks 1..k
    assert(rows.length == 30)
    assert(rows.groupBy(_.getLong(0)).forall(_._2.map(_.getLong(1)).toSet == Set(1L, 2L, 3L)))
    // approximation quality at this SF: most exact neighbors land in the
    // probed cells (no recall floor asserted — data is random — but the
    // result must be a subset of legal candidates, checked by the oracle)
  }

  test("incremental IVF append: new vectors findable, old files untouched") {
    val emb = graft.T.embeddings(spark, sf)
    val dim = 64
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    // build on the first half, append the second half
    val first = emb.filter(col("vec_id") % 2 === 0)
    val second = emb.filter(col("vec_id") % 2 === 1)
    AnnOps.buildIvfIndex(first, path, dim = dim, nCentroids = 8)
    def cellFiles(): Set[String] = {
      val d = new java.io.File(s"$path/cells")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(d).filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    }
    val before = cellFiles()
    val rebuild = AnnOps.appendToIvfIndex(spark, path, second, dim = dim)
    val after = cellFiles()
    // append-only: every pre-existing file survives, new files arrived
    assert(before.subsetOf(after) && after.size > before.size,
      "append must add files without rewriting the existing cells")
    // appended vectors are findable: probing every cell from the index
    // equals brute-force over the FULL corpus (build + appended)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = AnnOps.topKForQueries(emb, queries, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaIndex = AnnOps.ivfTopKFromIndex(spark, path, queries, k = 3,
        dim = dim, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaIndex == exact,
      "all-cells probe over the appended index must equal exact search")
    // balanced random data: no rebuild recommendation; the meta sidecar
    // records the append
    assert(!rebuild)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_graft_ivf_meta.json")), "UTF-8")
    assert(meta.contains("\"appends\": 1") && meta.contains("false"))
    // a pathologically skewed append (everything into one cell's region is
    // not constructible on random data, so drive the counter instead):
    // second append bumps the counter and keeps the sidecar well-formed
    AnnOps.appendToIvfIndex(spark, path,
      emb.filter(col("vec_id") < 20), dim = dim)
    val meta2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_graft_ivf_meta.json")), "UTF-8")
    assert(meta2.contains("\"appends\": 2"))
    // and an absurdly tight skew factor flips the recommendation
    assert(AnnOps.appendToIvfIndex(spark, path,
      emb.filter(col("vec_id") < 4), dim = dim, skewFactor = 1.0))
  }

  test("filtered IVF probe: inline payload survives appends and the " +
      "predicate restricts exactly") {
    val emb = graft.T.embeddings(spark, sf)
    val dim = 64
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivf-filtered").toString
    val first = emb.filter(col("vec_id") % 2 === 0)
    val second = emb.filter(col("vec_id") % 2 === 1)
    // payload declared at build; append must re-derive it from the cells
    // schema (no payload argument) so the layout can't desynchronize
    AnnOps.buildIvfIndex(first, path, dim = dim, nCentroids = 8,
      payloadCols = Seq("label"))
    AnnOps.appendToIvfIndex(spark, path, second, dim = dim)
    val queries = emb.filter(col("vec_id") < 10)
    // all-cells filtered probe == brute force over the label-filtered
    // corpus (build + appended rows both carry the payload)
    val exact = AnnOps.topKForQueries(
        emb.filter(col("label").isin(2, 5, 8)), queries, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaIndex = AnnOps.ivfTopKFromIndex(spark, path, queries, k = 3,
        dim = dim, nProbe = 8,
        predicate = Some(col("label").isin(2, 5, 8))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaIndex == exact,
      "all-cells filtered probe must equal exact search over the " +
        "filtered corpus")
    assert(viaIndex.nonEmpty)
    // a payload TYPE mismatch fails fast at append time (ADVICE r14),
    // not later as a parquet schema-merge error on some unrelated read
    val badTyped = second.withColumn("label", col("label").cast("string"))
    val e = intercept[IllegalArgumentException] {
      AnnOps.appendToIvfIndex(spark, path, badTyped, dim = dim)
    }
    assert(e.getMessage.contains("payload column 'label'"), e.getMessage)
  }
}
