package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.corpus.WebCorpus

/** Workload sizes. They are fixed so that the same seed always gives the
  * same inputs; they are small enough that one run, set-up included, fits
  * in well under a minute on 4 cores. */
object Sizes {
  val cpus: Int = math.max(1, Runtime.getRuntime.availableProcessors)
  /** docs in the corpus the build workload indexes on every timed op */
  val buildDocs = 16000
  /** docs in the served index of the select workloads */
  val selectDocs = 8000
  /** docs in the churn workload's starting index */
  val churnDocs = 12000
  /** spark.graft.smallQueryMaxPostings for select_common. Lowered from the
    * default (2^18) in proportion to the corpus, so that head-word queries
    * (Σdf ≈ 1.5 N) take the distributed kernel path — the path they take
    * on a 200k-doc corpus under the default cap. The other workloads run
    * with the default. */
  val commonSmallQueryCap: Long = 1L << 13
  /** set-up repetitions whose median is setup_s's data part */
  val setupReps = 3
  /** closed-loop select warm-up, per client */
  val warmupRare = 4
  val warmupCommon = 2
  /** churn: docs per upsert batch (half replace live ids, half new ids),
    * ids per delete batch, user writes between compactPartial calls */
  val upsertBatch = 300
  val deleteBatch = 100
  val compactEvery = 6
  /** select_rare-shaped reads after each churn commit */
  val readsPerCommit = 2
  /** queries replayed one at a time in the traced run */
  val tracedRare = 8
  val tracedCommon = 8
  val tracedProbe = 5
  /** queries checked through the library with scores, per run */
  val libraryChecks = 4
}

/** Seeded query streams over WebCorpus.word(rank), Zipf ranks. */
object QueryGen {
  private val phrases: Vector[String] =
    (WebCorpus.Phrases ++ WebCorpus.JaSnippets).toVector

  private def tail(r: scala.util.Random): String = WebCorpus.word(1000 + r.nextInt(8192 - 1000))
  private def distinct(r: scala.util.Random, n: Int, pick: scala.util.Random => String): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += pick(r)
    out.toSeq
  }

  private lazy val rankOf: Map[String, Int] = (0 until 8192).map(r => WebCorpus.word(r) -> r).toMap

  /** select_rare: half AND, half OR over tail words (rank >= 1000); one
    * in ten is a quoted phrase from the corpus's phrase lists. The shapes
    * follow a fixed cycle and only the words are drawn, so that two seeds
    * differ in words, not in their mix of query shapes. An AND takes two
    * tail words of one corpus document (of `nDocs` generated with
    * `corpusSeed`), so that, like every other shape, it has matches: an
    * empty result costs the server one Spark job less, and a mix of empty
    * and non-empty answers would make the latency bimodal. */
  def rare(seed: Long, n: Int, corpusSeed: Long, nDocs: Int): Vector[Query] = {
    val r = new scala.util.Random(seed)
    def coOccurring(): Seq[String] = {
      val words = WebCorpus.text(r.nextInt(nDocs).toLong, corpusSeed)._1.split(' ')
        .filter(w => rankOf.get(w).exists(_ >= 1000)).distinct
      if (words.length < 2) distinct(r, 2, tail)
      else {
        val a = r.nextInt(words.length)
        val b = (a + 1 + r.nextInt(words.length - 1)) % words.length
        Seq(words(a), words(b))
      }
    }
    Vector.tabulate(n) { i =>
      if (i % 10 == 9) Phrase(phrases(r.nextInt(phrases.size)))
      else if (i % 2 == 0) AndTerms(coOccurring())
      else OrTerms(distinct(r, 2 + i % 4 / 3, tail))
    }
  }

  /** select_common: two head words (rank < 8) each; half AND them, half
    * OR them with a mid word (rank 16-300) */
  def common(seed: Long, n: Int): Vector[Query] = {
    val r = new scala.util.Random(seed)
    Vector.fill(n) {
      val heads = distinct(r, 2, x => WebCorpus.word(x.nextInt(8)))
      if (r.nextBoolean()) AndTerms(heads)
      else OrTerms(heads :+ WebCorpus.word(16 + r.nextInt(285)))
    }
  }
}

/** Blocking HTTP client for `GET /d/select`. */
object Http {
  final case class SelectReply(nHits: Long, ids: Seq[Long])

  def select(port: Int, query: String): SelectReply = {
    val url = s"http://127.0.0.1:$port/d/select?table=docs&score=bm25&limit=10" +
      "&output_columns=_id,_score&query=" + URLEncoder.encode(query, UTF_8)
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
    if (code != 200) throw new RuntimeException(s"HTTP $code: ${body.take(300)}")
    parse(body)
  }

  /** `[[rc,start,elapsed],[[[n_hits],[[name,type]...],[id,score]...]]]` */
  def parse(body: String): SelectReply = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(body) match {
      case JArray(List(JArray(JInt(rc) :: _), JArray(JArray(JArray(List(JInt(n))) :: _ :: rows) :: _)))
          if rc == 0 =>
        SelectReply(n.toLong, rows.map {
          case JArray(JInt(id) :: _) => id.toLong
          case other => throw new RuntimeException(s"bad row $other")
        })
      case _ => throw new RuntimeException(s"unexpected select reply: ${body.take(300)}")
    }
  }
}

object Fs {
  def path(p: String): Path = Paths.get(p)
  def deleteTree(p: String): Unit = {
    val root = path(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toVector.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
  }
  def treeBytes(p: String): Long = {
    val s = Files.walk(path(p))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }
  def write(p: String, lines: Seq[String]): Unit = {
    Files.createDirectories(path(p).getParent)
    Files.write(path(p), lines.asJava, UTF_8)
  }
}

object Stat {
  /** nearest-rank percentile, q in (0, 1] */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** interquartile mean: the mean after dropping the lowest and highest
    * quarter, rounded up, at each end (of 3 samples, the middle one) */
  def iqm(xs: Seq[Double]): Double = {
    val k = math.min((xs.size + 3) / 4, (xs.size - 1) / 2)
    mean(xs.sorted.slice(k, xs.size - k))
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ms(ns: Long): Double = ns / 1e6
  def timeNs[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = f
    (a, System.nanoTime() - t0)
  }
}
