package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GraftFunctions, PolyHashUtil}
import graft.ml.Similarity
import graft.textops.{Dedup, TextAnalysis}

class DataOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("PolyHash matches a reference fold and survives codegen") {
    def ref(s: String, mult: Long, mod: Long): Long =
      s.codePoints().toArray.foldLeft(0L)((h, c) => (h * mult + c) % mod)
    for (s <- Seq("", "a", "spark join", "日本語テキスト", "x" * 500)) {
      assert(PolyHashUtil.hash(UTF8String.fromString(s), 131L, 1000000007L) ==
        ref(s, 131L, 1000000007L), s)
    }
    // through the engine (whole-stage codegen path)
    val got = Seq("alpha", "beta").toDF("s")
      .select(GraftFunctions.poly_hash(col("s")).as("h")).as[Long].collect()
    assert(got.toSeq == Seq(ref("alpha", 131, 1000000007L), ref("beta", 131, 1000000007L)))
  }

  test("shingles: count and content") {
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text", 3).as[(Long, String)].collect().toSet
    assert(sh == Set((1L, "a b c"), (1L, "b c d")))
  }

  test("jaccard pairs find planted near-duplicates, symmetric in input order") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different text about spark and inverted indexes here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("seq pack: distributed prefix-sum equals the global cumsum") {
    val docs = (0L until 200L)
      .map(i => (i, ("w " * ((i % 37 + 1).toInt)).trim)).toDF("doc_id", "text")
    val got = graft.textops.Mixing
      .seqPack(docs, "doc_id", size(split(col("text"), " ")), budget = 50L)
      .orderBy("id").as[(Long, Long, Long, Long)].collect()
    assert(got.length == 200)
    var cum = 0L
    got.foreach { case (id, n, bin, off) =>
      assert(n == id % 37 + 1)
      assert(bin == cum / 50 && off == cum % 50, s"doc $id: ($bin,$off) cum=$cum")
      cum += n
    }
  }

  test("mix sample: pure function of id; rates 100 and 0 are exact") {
    val docs = (0L until 100L)
      .map(i => (i, if (i < 50) "a" else "b")).toDF("doc_id", "grp")
    val rate = when(col("grp") === "a", 100).otherwise(0)
    val kept = graft.textops.Mixing.mixSample(docs, "doc_id", rate)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == (0L until 50L).toSet)
    assert(graft.textops.Mixing.mixSample(docs, "doc_id", rate).count() == 50)
  }

  test("stratifiedSample: exact quota per stratum, identical to naive window") {
    import org.apache.spark.sql.expressions.Window
    val docs = (0L until 500L).map(i => (i, s"lang${i % 3}"))
      .toDF("doc_id", "lang").repartition(7) // multiple partitions: salted phase real
    val got = graft.textops.Mixing.stratifiedSample(docs, "doc_id", "lang", 25)
      .select("doc_id", "lang", "strat_rank")
      .as[(Long, String, Int)].collect().sortBy(r => (r._2, r._3)).toSeq
    assert(got.groupBy(_._2).forall(_._2.size == 25))
    val key = (col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(2147483648L)
    val naive = docs.withColumn("strat_rank", row_number().over(
        Window.partitionBy(col("lang")).orderBy(key.asc, col("doc_id").asc)))
      .where(col("strat_rank") <= 25)
      .select("doc_id", "lang", "strat_rank")
      .as[(Long, String, Int)].collect().sortBy(r => (r._2, r._3)).toSeq
    assert(got == naive)
    // quota above stratum size: whole stratum, no padding
    val all = graft.textops.Mixing.stratifiedSample(docs, "doc_id", "lang", 9999)
    assert(all.count() == 500)
  }

  test("decontaminate: planted eval overlap flagged, clean docs zero") {
    val evalDocs = Seq(
      (100L, "what is the capital of france paris obviously"),
      (101L, "two plus two equals four in base ten")).toDF("doc_id", "text")
    val train = Seq(
      // verbatim leak of eval doc 100 inside a longer doc: 6 shared 3-grams
      (1L, "prefix words what is the capital of france paris obviously suffix"),
      // partial leak: exactly one shared 3-gram ("two plus two")
      (2L, "two plus two unrelated tail of words here now"),
      (3L, "completely disjoint training document about spark shuffles")
    ).toDF("doc_id", "text")
    val got = graft.textops.Dedup
      .decontaminate(train, evalDocs, "doc_id", "text", n = 3, minMatches = 2)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._3)).toSeq ==
      Seq((1L, true), (2L, false), (3L, false)))
    assert(got(0)._2 == 6 && got(1)._2 == 1 && got(2)._2 == 0)
  }

  test("decontaminateBloom: bit-identical to exact decontaminate; empty eval safe") {
    val evalDocs = Seq(
      (100L, "what is the capital of france paris obviously"),
      (101L, "two plus two equals four in base ten")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words what is the capital of france paris obviously suffix"),
      (2L, "two plus two unrelated tail of words here now"),
      (3L, "completely disjoint training document about spark shuffles")
    ).toDF("doc_id", "text")
    def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        String, String, Int, Int) => org.apache.spark.sql.DataFrame) =
      f(train, evalDocs, "doc_id", "text", 3, 2)
        .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val exact = run(graft.textops.Dedup.decontaminate(_, _, _, _, _, _))
    val bloom = run(graft.textops.Dedup.decontaminateBloom(_, _, _, _, _, _))
    assert(bloom == exact)
    // empty eval: no doc is contaminated, no NPE from the null sketch
    val none = graft.textops.Dedup.decontaminateBloom(
        train, evalDocs.where(col("doc_id") < 0), "doc_id", "text", 3, 1)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(none == Seq((1L, 0L, false), (2L, 0L, false), (3L, 0L, false)))
  }

  test("keepBest: best score wins per cluster, ties break to smallest id") {
    import graft.textops.Dedup
    // two clusters: {1,2,3} and {5,6}; 2 has the best score in the first;
    // 5 and 6 tie in the second -> smallest id (5) kept
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs, "a", "b")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.7), (5L, 0.4), (6L, 0.4))
      .toDF("doc_id", "q")
    val got = Dedup.keepBest(comps, scores, "doc_id", "q")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 1L, 2L), (2L, 1L, 2L), (3L, 1L, 2L),
      (5L, 5L, 5L), (6L, 5L, 5L)))
  }

  test("dedupChunks: first occurrence wins, within-doc dups drop, full dup empties") {
    import graft.textops.Dedup
    // k=3 chunks; doc 1 = [A][B], doc 2 repeats chunk A twice (one within-
    // doc dup), doc 3 is doc 1 verbatim (full dup -> empty reconstruction)
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c a b c x y z"),
      (3L, "a b c d e f")).toDF("doc_id", "text")
    val got = Dedup.dedupChunks(docs, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, "a b c d e f"),
      (2L, 3L, 1L, "x y z"),
      (3L, 2L, 0L, "")))
  }

  test("minhash LSH finds the same near-dup pairs as exact jaccard (high sim)") {
    val docs = (0L until 40L).map { i =>
      val base = s"w$i x$i y$i " + (0 until 20).map(j => s"t${(i * 7 + j) % 50}").mkString(" ")
      (i, base)
    } ++ Seq((100L, (0 until 20).map(j => s"t${j % 50}").mkString(" ") + " w0 x0 y0"))
    val df = docs.toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(df, "doc_id", "text", n = 3, threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("simhash: near-identical docs have close hashes, deterministic") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val sig = Dedup.simhash(df, "doc_id", "text", bits = 16)
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(1L), sig(2L)) < hamming(sig(1L), sig(3L)))
    val sig2 = Dedup.simhash(df, "doc_id", "text", bits = 16)
      .as[(Long, Long)].collect().toMap
    assert(sig == sig2)
  }

  test("simhashPairs: band cap stops the quadratic blowup on boilerplate") {
    // 300 identical docs land in ONE band bucket per chunk; the default cap
    // drops those buckets, so candidate generation stays linear. Two small
    // genuinely-near clusters must still pair up.
    val boiler = (0L until 300L).map(i => (i, "the same boilerplate header text repeated everywhere"))
    val near = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1001L, "alpha beta gamma delta epsilon zeta eta theta"))
    val df = (boiler ++ near).toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(df, "doc_id", "text", maxBandDf = 256)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((1000L, 1001L)), "near pair in a small bucket survives")
    assert(!capped.exists(p => p._1 < 300L && p._2 < 300L),
      "capped run must not emit the O(n^2) boilerplate pairs")
    // uncapped: the same corpus explodes into 300*299/2 identical-doc pairs
    val uncapped = Dedup.simhashPairs(df, "doc_id", "text", maxBandDf = Int.MaxValue)
      .where(col("doc_a") < 300L && col("doc_b") < 300L).count()
    assert(uncapped == 300L * 299 / 2)
  }

  test("cosine topK matches brute-force scala") {
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs.head._2
    val got = Similarity.cosineTopK(df, "vec_id", "embedding", q, 5, Some(0L))
      .as[(Long, Double)].collect().toSeq
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val want = vecs.tail.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(5)
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-4) }
  }

  test("lang id picks marker language, und when none") {
    val df = Seq(
      (1L, "the cat and the dog"),
      (2L, "der hund und die katze"),
      (3L, "xyz abc qqq")).toDF("doc_id", "text")
    val got = TextAnalysis.langId(df, "doc_id", "text")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("token counts: subword estimate") {
    val df = Seq((1L, "abcd efghijkl xy")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenCounts(df, "doc_id", "text")
      .as[(Long, Int, Long)].collect().head
    // ceil(4/4)=1, ceil(8/4)=2, ceil(2/4)=1
    assert(got == ((1L, 3, 1L + 2L + 1L)))
  }

  test("duplicated spans: cross-doc windows merge into maximal spans; " +
       "within-doc repeats and short docs don't count") {
    def words(tag: String, n: Int): String = (0 until n).map(i => s"$tag$i").mkString(" ")
    val shared = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9" // 10 tokens: 3 overlapping 8-windows
    val docs = Seq(
      (1L, words("a", 5) + " " + shared + " " + words("b", 5)),   // span at 6..15
      (2L, shared + " " + words("c", 12)),                        // span at 1..10
      // doc 3: a window repeated WITHIN one doc only — not duplicated
      (3L, words("d", 8) + " z " + words("d", 8)),
      (4L, "too short")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 8, minDocs = 2)
      .select("doc_id", "span_start", "span_end", "n_windows")
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(got == Set((1L, 6, 15, 3L), (2L, 1, 10, 3L)))
  }

  test("duplicated spans: gap greater than n splits islands, gap = n merges") {
    // docs 1/2 share two 8-token runs; in doc 1 the runs are 20 tokens apart
    // (split), in doc 2 they are contiguous (merged with the filler absent)
    val run1 = (0 until 8).map(i => s"p$i").mkString(" ")
    val run2 = (0 until 8).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      (1L, run1 + " " + (0 until 20).map(i => s"f$i").mkString(" ") + " " + run2),
      (2L, run1 + " " + run2)).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 8, minDocs = 2)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Int, Int)].collect().toSet
    // doc 1: two islands (starts 1 and 29); doc 2: starts 1 and 9 — the gap
    // is exactly n so the token ranges touch and merge into one span 1..16
    assert(got == Set((1L, 1, 8), (1L, 29, 36), (2L, 1, 16)))
  }

  test("repetition: top n-gram by count with deterministic tie-break") {
    val df = Seq((1L, "x y x y x y long unique tail words here")).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(df, "doc_id", "text", ns = Seq(2))
      .select("n", "top_gram", "top_cnt", "top_frac")
      .as[(Int, String, Long, Double)].collect().head
    // bigrams: "x y" x3, "y x" x2 → top is ("x y", 3); chars = 3*3=9 of 39
    assert(got._1 == 2 && got._2 == "x y" && got._3 == 3L)
    assert(got._4 == math.floor(9.0 / 39.0 * 10000) / 10000.0)
  }

  test("kmeans: separates two obvious blobs, deterministic assignment") {
    // two blobs around (0.4, ...) and (-0.4, ...); 0.01 steps so the seed
    // vectors stay distinct on the thousandths lattice (0.001f steps would
    // quantize ids 0 and 1 to the SAME point and the empty seed would drop)
    val pts = (0L until 10L).map { i =>
      val sign = if (i < 5) 1.0f else -1.0f
      (i, Array.fill(4)(sign * (0.4f + 0.01f * i)).toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val got = graft.ml.KMeans.cluster(df, "vec_id", "embedding", k = 2, iters = 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    // vec 0 and 1 seed the two centroids; after 2 iterations the blobs
    // separate: ids 0-4 in one cluster, 5-9 in the other
    assert((0L until 5L).map(got).toSet.size == 1)
    assert((5L until 10L).map(got).toSet.size == 1)
    assert(got(0L) != got(9L))
  }

  test("pii scrub: counts and redacts emails, phones, IPv4") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.com and carol@ex.org tel +44 020-7946-0958 host 192.168.0.1 done"),
      (2L, "no pii here just words")).toDF("doc_id", "t")
    val got = TextAnalysis.piiScrub(df, "doc_id", "t")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 2, 1, 1,
      "mail <EMAIL> and <EMAIL> tel <PHONE> host <IP> done")))
    assert(got(1) == ((2L, 0, 0, 0, "no pii here just words")))
  }

  test("asof join: latest at-or-before right row, equal-ts matches, null when none") {
    import graft.operators.AsofJoin
    val left = Seq((1L, 100L, "a"), (1L, 200L, "b"), (1L, 50L, "c"), (2L, 100L, "d"))
      .toDF("k", "t", "lval")
    val right = Seq((1L, 100L, 10L), (1L, 150L, 20L), (3L, 1L, 99L))
      .toDF("k", "t", "rv")
    val got = AsofJoin.asof(left, right, Seq("k"), "t", Seq("rv"))
      .select("k", "t", "lval", "asof_rv")
      .as[(Long, Long, String, Option[Long])].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 50L, "c", None),        // before any right row
      (1L, 100L, "a", Some(10L)),  // equal ts matches (<=)
      (1L, 200L, "b", Some(20L)),  // latest of the two priors
      (2L, 100L, "d", None)))      // key with no right rows at all
  }

  test("asof join forward: earliest at-or-after right row, equal-ts matches") {
    import graft.operators.AsofJoin
    val left = Seq((1L, 100L, "a"), (1L, 200L, "b"), (1L, 300L, "c"))
      .toDF("k", "t", "lval")
    val right = Seq((1L, 100L, 10L), (1L, 250L, 20L)).toDF("k", "t", "rv")
    val got = AsofJoin.asof(left, right, Seq("k"), "t", Seq("rv"),
        direction = AsofJoin.Forward)
      .select("k", "t", "lval", "asof_rv")
      .as[(Long, Long, String, Option[Long])].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 100L, "a", Some(10L)),  // equal ts matches (>=)
      (1L, 200L, "b", Some(20L)),  // earliest of the laters
      (1L, 300L, "c", None)))      // after every right row
  }

  test("interval overlap: duplicate-free across shared buckets, empty intervals dropped") {
    import graft.operators.RangeJoin
    val a = Seq((1L, 0L, 100L), (2L, 95L, 96L), (3L, 50L, 50L))
      .toDF("a_key", "a_lo", "a_hi") // a3 is empty: overlaps nothing
    val b = Seq((10L, 90L, 200L), (11L, 100L, 110L), (12L, 40L, 60L))
      .toDF("b_key", "b_lo", "b_hi")
    val got = RangeJoin.intervalOverlap(a, "a_lo", "a_hi", b, "b_lo", "b_hi",
        bucketWidth = 10L)
      .select("a_key", "b_key").as[(Long, Long)].collect().sortBy(identity)
    // a1=[0,100) spans 10 buckets and overlaps b10 on [90,100) (2 shared
    // buckets) and b12 on [40,60) — each pair exactly once; [100,110)
    // does NOT overlap the half-open [0,100)
    assert(got.toSeq == Seq((1L, 10L), (1L, 12L), (2L, 10L)))
  }

  test("range join: containment exact at bucket boundaries, wide intervals covered") {
    import graft.operators.RangeJoin
    val pts = Seq(0L, 9L, 10L, 15L, 19L, 20L, 35L).map(Tuple1(_)).toDF("p")
    val iv = Seq((100L, 10L, 20L), (200L, 0L, 40L), (300L, 36L, 37L))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(pts, "p", iv, "lo", "hi", bucketWidth = 10L)
      .select("iid", "p").as[(Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (100L, 10L), (100L, 15L), (100L, 19L), // [10,20): 20 excluded, 10 included
      (200L, 0L), (200L, 9L), (200L, 10L), (200L, 15L), (200L, 19L),
      (200L, 20L), (200L, 35L)))             // wide interval spans 5 buckets
  }

  test("hll sketch: estimate within 5% at 20k distinct, exact small counts via linear counting") {
    import graft.ml.Sketches
    val big = (0L until 20000L).map(i => ("g", s"user-$i")).toDF("g", "v")
    val est = Sketches.approxDistinct(big, Seq("g"), col("v"))
      .select("approx_distinct").as[Long].head()
    assert(math.abs(est - 20000.0) / 20000.0 < 0.05, s"est=$est")
    // tiny cardinality → linear-counting branch, which is near-exact
    val small = (0L until 40L).map(i => ("g", s"u$i")).toDF("g", "v")
    val estS = Sketches.approxDistinct(small, Seq("g"), col("v"))
      .select("approx_distinct").as[Long].head()
    assert(math.abs(estS - 40.0) <= 2, s"estS=$estS")
  }

  test("connected components: chain collapses via pointer jumping, disjoint clusters stay apart") {
    // a 12-node path (worst case for plain propagation — pointer jumping
    // must collapse it in O(log n) rounds), a pair, and a triangle
    val chain = (0L until 11L).map(i => (i + 1, i))
    val edges = (chain ++ Seq((101L, 100L), (201L, 200L), (202L, 201L), (202L, 200L)))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(edges, "a", "b", maxIter = 6)
      .as[(Long, Long)].collect().sortBy(_._1)
    val want = (0L to 11L).map(i => (i, 0L)) ++
      Seq((100L, 100L), (101L, 100L), (200L, 200L), (201L, 200L), (202L, 200L))
    assert(got.toSeq == want)
  }

  /** the Dataset action names `f` issues, seen by a QueryExecutionListener */
  private def actionsOf(f: => Unit): Seq[String] = {
    val actions = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = actions.add(s"FAIL:$funcName")
    }
    spark.listenerManager.register(listener)
    try {
      f
      // listener delivery is async — drain before returning
      var waited = 0
      while (waited < 10000 && actions.isEmpty) { Thread.sleep(200); waited += 200 }
      Thread.sleep(500)
      actions.toArray.map(_.toString).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("connected components: convergence rides the checkpoint — no extra action per round") {
    // the per-round convergence test must be folded into the round's own
    // checkpoint job (a separate compare-join + isEmpty would double the
    // per-round action count); assert via a QueryExecutionListener that
    // the ONLY Dataset actions the loop issues are the checkpoints
    // this spec asserts the DISTRIBUTED loop's per-round job shape —
    // disable the small-pair-set driver fast path so the loop runs
    spark.conf.set("spark.graft.ccMaxDriverPairs", "0")
    try {
      val actions = actionsOf {
        val edges = (0L until 8L).map(i => (i + 1, i)).toDF("a", "b")
        val comp = Dedup.connectedComponents(edges, "a", "b")
          .as[(Long, Long)].collect()
        assert(comp.forall(_._2 == 0L))
      }
      val inLoop = actions.filterNot(_ == "collect") // the assertion's own action
      assert(inLoop.nonEmpty, "listener saw no actions")
      assert(inLoop.forall(_.toLowerCase.contains("checkpoint")),
        s"loop issued non-checkpoint actions: ${inLoop.mkString(", ")}")
    } finally spark.conf.unset("spark.graft.ccMaxDriverPairs")
  }

  test("connected components: a pair cap below the Int range disables the driver path") {
    // -4294967295 used to wrap to cap 1 and take the driver path
    spark.conf.set("spark.graft.ccMaxDriverPairs", "-4294967295")
    try {
      val actions = actionsOf {
        val got = Dedup.connectedComponents(Seq((1L, 2L)).toDF("a", "b"), "a", "b")
          .as[(Long, Long)].collect().toMap
        assert(got == Map(1L -> 1L, 2L -> 1L))
      }
      assert(!actions.contains("count"), s"driver path decided: ${actions.mkString(", ")}")
      assert(actions.exists(_.toLowerCase.contains("checkpoint")),
        s"distributed loop did not run: ${actions.mkString(", ")}")
    } finally spark.conf.unset("spark.graft.ccMaxDriverPairs")
  }

  test("connected components: an Int.MaxValue pair cap takes the driver path without overflow") {
    // cap + 1 used to wrap to Int.MinValue and reach limit(Int.MinValue)
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    spark.conf.set("spark.graft.ccMaxDriverPairs", Int.MaxValue.toString)
    val got =
      try Dedup.connectedComponents(edges, "a", "b").as[(Long, Long)].collect().toMap
      finally spark.conf.unset("spark.graft.ccMaxDriverPairs")
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: driver fast path equals the distributed loop") {
    // r7: under spark.graft.ccMaxDriverPairs the pair set is collected and
    // union-found on the driver — must produce the identical (id, min
    // reachable id) labeling as the pointer-jumping loop, including
    // chains, merged stars and isolated pairs
    val edges = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (12L, 11L),
      (20L, 21L), (5L, 4L), (30L, 31L), (31L, 32L), (32L, 30L)))
      .toDF("a", "b")
    val fast = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().sorted
    spark.conf.set("spark.graft.ccMaxDriverPairs", "0")
    val dist =
      try Dedup.connectedComponents(edges, "a", "b")
        .as[(Long, Long)].collect().sorted
      finally spark.conf.unset("spark.graft.ccMaxDriverPairs")
    assert(fast.toSeq == dist.toSeq)
    assert(fast.toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L))
  }
}
