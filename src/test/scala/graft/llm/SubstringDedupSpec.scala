package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[TextOps.substringSpanDedup]] (q148) and
  * [[SampleOps.hashedImportanceSelect]] (q149) against brute-force models
  * plus the corners the oracle corpus can't plant deliberately. */
class SubstringDedupSpec extends SparkTestBase {

  // ------------------------------------------- substring span dedup model

  /** Brute-force reference: every k-token window in ≥ minDocs distinct
    * docs covers its positions; islands of covered positions are spans. */
  private def spanModel(docs: Seq[(Long, String)], k: Int, minDocs: Int)
      : Map[Long, (Long, Long, Long, String)] = {
    val toks = docs.map { case (id, t) => id -> t.trim.split(" ", -1).toSeq }.toMap
    val grams: Map[Long, Seq[(Int, String)]] = toks.map { case (id, ts) =>
      id -> (if (ts.size >= k)
        (1 to ts.size - k + 1).map(i => i -> ts.slice(i - 1, i - 1 + k).mkString(" "))
      else Seq.empty)
    }
    val nDocs = grams.toSeq
      .flatMap { case (id, gs) => gs.map(_._2 -> id).distinct }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    val dup = nDocs.collect { case (g, n) if n >= minDocs => g }.toSet
    toks.map { case (id, ts) =>
      val cov = grams(id).filter(g => dup(g._2))
        .flatMap(g => g._1 until g._1 + k).toSet
      val spans = cov.count(p => !cov(p - 1))
      val clean = ts.zipWithIndex
        .collect { case (t, i) if !cov(i + 1) => t }.mkString(" ")
      id -> ((ts.size.toLong, cov.size.toLong, spans.toLong, clean))
    }
  }

  private def runSpanDedup(docs: Seq[(Long, String)], k: Int = 5,
      minDocs: Int = 2): Map[Long, (Long, Long, Long, String)] = {
    import spark.implicits._
    TextOps.substringSpanDedup(docs.toDF("doc_id", "text"), "doc_id", "text",
        k, minDocs)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
  }

  test("shared passage is caught at ANY alignment (the anti-q92 case)") {
    // the same 7-token passage starts at token 1 in doc 1 and token 4 in
    // doc 2 — a fixed 5-chunk grid (q92) can never line the two up, the
    // sliding window must remove exactly the passage from both
    val passage = "p1 p2 p3 p4 p5 p6 p7"
    val docs = Seq(
      1L -> s"$passage u1 u2 u3 u4 u5",
      2L -> s"v1 v2 v3 $passage w1 w2 w3",
      3L -> "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")
    val got = runSpanDedup(docs)
    assert(got(1L) == ((12L, 7L, 1L, "u1 u2 u3 u4 u5")))
    assert(got(2L) == ((13L, 7L, 1L, "v1 v2 v3 w1 w2 w3")))
    assert(got(3L) == ((10L, 0L, 0L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")))
    assert(got == spanModel(docs, 5, 2))
  }

  test("within-doc repetition is not scrubbed; short docs pass through") {
    val rep = "r1 r2 r3 r4 r5"
    val docs = Seq(
      1L -> s"$rep a b c $rep",      // the window repeats only INSIDE doc 1
      2L -> "d e f g h i j",
      3L -> "tiny doc")               // shorter than k
    val got = runSpanDedup(docs)
    assert(got(1L)._2 == 0L, "within-doc repeat must survive minDocs=2")
    assert(got(3L) == ((2L, 0L, 0L, "tiny doc")))
    assert(got == spanModel(docs, 5, 2))
  }

  test("overlapping and adjacent duplicated windows merge into one span") {
    // docs 1 and 2 share tokens 1..6 (two overlapping 5-windows in each):
    // covered 1..6 must merge to ONE span, not two
    val docs = Seq(
      1L -> "s1 s2 s3 s4 s5 s6 a1 a2 a3 a4 a5 a6",
      2L -> "s1 s2 s3 s4 s5 s6 b1 b2 b3 b4 b5 b6")
    val got = runSpanDedup(docs)
    assert(got(1L) == ((12L, 6L, 1L, "a1 a2 a3 a4 a5 a6")))
    assert(got(2L) == ((12L, 6L, 1L, "b1 b2 b3 b4 b5 b6")))
  }

  test("fully-duplicated docs scrub to empty, two disjoint passages = two spans") {
    val docs = Seq(
      1L -> "c1 c2 c3 c4 c5",
      2L -> "c1 c2 c3 c4 c5",                       // exact pair → empty
      3L -> "d1 d2 d3 d4 d5 mid1 mid2 e1 e2 e3 e4 e5",
      4L -> "d1 d2 d3 d4 d5 oth1 oth2 e1 e2 e3 e4 e5")
    val got = runSpanDedup(docs)
    assert(got(1L) == ((5L, 5L, 1L, "")))
    assert(got(2L) == ((5L, 5L, 1L, "")))
    assert(got(3L) == ((12L, 10L, 2L, "mid1 mid2")))
    assert(got(4L) == ((12L, 10L, 2L, "oth1 oth2")))
    assert(got == spanModel(docs, 5, 2))
  }

  test("substringSpanDedup matches brute force on random colliding corpora") {
    val rnd = new scala.util.Random(41)
    // tiny vocab forces plenty of genuine cross-doc 3-gram collisions
    val vocab = Vector("a", "b", "c", "d")
    for (trial <- 0 until 3) {
      val docs = (0L until 120L).map { i =>
        val n = rnd.nextInt(25)
        i -> (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val got = runSpanDedup(docs, k = 3, minDocs = 2)
      assert(got == spanModel(docs, 3, 2), s"trial $trial diverged")
    }
  }

  test("hashed gram keys (the lake-scale shuffle dial) produce the same " +
      "output as text keys, on the gate corpus and the colliding fixture") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val vocab = Vector("a", "b", "c", "d")
    val rand = (0L until 120L).map { i =>
      val n = rnd.nextInt(25)
      i -> (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val gate = spark.read
      .parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    for ((docs, name) <- Seq((rand, "colliding"), (gate, "gate"))) {
      val df = docs.toDF("doc_id", "text")
      def run(hashed: Boolean) =
        TextOps.substringSpanDedup(df, "doc_id", "text", k = 5,
            minDocs = 2, hashedGramKeys = hashed)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getString(4))).toSet
      assert(run(true) == run(false), s"$name corpus diverged")
    }
  }

  // ------------------------------------------- hashed importance selection

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Brute-force DSIR-flavored model mirroring the scaladoc exactly. */
  private def importanceModel(docs: Seq[(Long, String, Boolean)], b: Int,
      n: Int): Seq[(Long, Long, Long, Double, Long)] = {
    def feats(t: String): Seq[String] = {
      val ts = t.trim.split(" ", -1).toSeq
      ts ++ (if (ts.size >= 2) ts.sliding(2).map(_.mkString(" ")).toSeq
             else Seq.empty)
    }
    def bucket(f: String): Int =
      Integer.parseInt(md5hex(f).substring(0, 4), 16) % b
    val all = docs.flatMap { case (id, t, tgt) =>
      feats(t).map(f => (id, tgt, bucket(f)))
    }
    val ct = all.filter(_._2).groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val cr = all.filterNot(_._2).groupBy(_._3).view.mapValues(_.size.toLong).toMap
    all.filterNot(_._2).groupBy(_._1).toSeq.map { case (id, fs) =>
      val num = fs.map(x => ct.getOrElse(x._3, 0L) + 1L).sum
      val den = fs.map(x => cr.getOrElse(x._3, 0L) + 1L).sum
      (id, num, den, num.toDouble / den, 0L)
    }.sortBy { case (id, _, _, ratio, _) => (-ratio, id) }
      .take(n).zipWithIndex
      .map { case ((id, num, den, ratio, _), i) => (id, num, den, ratio, i + 1L) }
  }

  test("importance selection matches brute force and ranks target-like docs first") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val tgtVocab = Vector("alpha", "beta", "gamma")
    val rawVocab = Vector("noise1", "noise2", "noise3", "noise4")
    val docs: Seq[(Long, String, Boolean)] =
      (0L until 40L).map { i =>    // target domain: alpha/beta/gamma prose
        (i, (0 until 10).map(_ => tgtVocab(rnd.nextInt(3))).mkString(" "), true)
      } ++ (100L until 160L).map { i => // candidates: mostly noise...
        val v = if (i < 110L) tgtVocab else rawVocab // ...10 look target-like
        (i, (0 until 10).map(_ => v(rnd.nextInt(v.size))).mkString(" "), false)
      }
    val df = docs.toDF("doc_id", "text", "is_tgt")
    val got = SampleOps.hashedImportanceSelect(df, "doc_id", "text",
        isTarget = col("is_tgt"), numBuckets = 64, n = 15)
      .select("doc_id", "num", "den", "ratio", "rk")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
      .toSeq.sortBy(_._5)
    assert(got == importanceModel(docs, 64, 15))
    // the 10 target-like candidates must dominate the head of the ranking
    assert(got.take(10).map(_._1).forall(id => id >= 100L && id < 110L),
      s"target-like candidates should rank first, got ${got.take(10).map(_._1)}")
  }

  test("importance selection is partitioning-invariant and never windows the corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("u", "v", "w", "x", "y")
    val docs = (0L until 300L).map { i =>
      (i, (0 until (1 + rnd.nextInt(12)))
        .map(_ => vocab(rnd.nextInt(5))).mkString(" "), i % 5 == 0)
    }
    val runs = Seq(1, 13).map { parts =>
      val df = docs.toDF("doc_id", "text", "is_tgt").repartition(parts)
      SampleOps.hashedImportanceSelect(df, "doc_id", "text", col("is_tgt"),
          numBuckets = 32, n = 25)
        .select("doc_id", "num", "den", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    }
    assert(runs(0) == runs(1), "int64 sums must be partitioning-invariant")

    // the top-n must plan as TakeOrdered (per-partition top-n), and the
    // only Window node may be the rank pass over the already-limited rows
    val plan = SampleOps.hashedImportanceSelect(
        docs.toDF("doc_id", "text", "is_tgt"), "doc_id", "text",
        col("is_tgt"), numBuckets = 32, n = 25)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"),
      s"expected TakeOrderedAndProject in:\n$plan")
  }

  // ------------------------------------------- cluster-balanced sampling

  test("cluster-balanced sample matches brute force and caps the mega-cell") {
    import spark.implicits._
    val dim = 8; val nCells = 4; val quota = 3
    val rnd = new scala.util.Random(29)
    // vec_ids 0..3 become the seed centroids; ids 100+ cluster tightly
    // around seed 0 (the mega-cell), the rest spread over the seeds
    def around(seed: Array[Float], eps: Float): Array[Float] =
      seed.map(v => v + (rnd.nextFloat() - 0.5f) * eps)
    val seeds = (0 until nCells).map { i =>
      Array.tabulate(dim)(j => if (j == i * 2) 1.0f else 0.1f * rnd.nextFloat())
    }
    val rows: Seq[(Long, Array[Float])] =
      seeds.zipWithIndex.map { case (s, i) => (i.toLong, s) } ++
        (100L until 140L).map(i => (i, around(seeds(0), 0.05f))) ++ // mega
        (200L until 212L).map(i => (i, around(seeds((i % 3 + 1).toInt), 0.2f)))
    val df = rows.toDF("vec_id", "embedding")

    // brute-force model mirroring the kernel: cosine in doubles, strict
    // first-wins argmax over cid order; quota by md5 60-bit prefix, tie id
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dim) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def h60(id: Long): Long =
      java.lang.Long.parseLong(md5hex(id.toString).substring(0, 15), 16)
    val cents = rows.sortBy(_._1).take(nCells)
    val exp = rows.map { case (id, e) =>
      var best = Double.NegativeInfinity; var bc = cents.head._1
      cents.foreach { case (cid, ce) =>
        val c = cos(e, ce); if (c > best) { best = c; bc = cid }
      }
      (id, bc)
    }.groupBy(_._2).toSeq.flatMap { case (cell, xs) =>
      xs.map(_._1).sortBy(id => (h60(id), id)).take(quota).zipWithIndex
        .map { case (id, i) => (id, cell, i + 1L) }
    }.toSet

    val got = SampleOps.clusterBalancedSample(df, dim, nCells, quota)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exp)
    // the mega-cell (seed 0's cluster, 41 members) contributes exactly
    // quota rows like every other non-empty cell
    assert(got.count(_._2 == 0L) == quota)
    // no Window node: the per-cell quota must run through the bounded
    // top-k aggregate, never a full-corpus window shuffle
    val plan = SampleOps.clusterBalancedSample(df, dim, nCells, quota)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"expected no Window node in:\n$plan")
  }
}
