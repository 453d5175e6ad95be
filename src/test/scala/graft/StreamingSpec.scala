package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.corpus.WebCorpus
import graft.index.{GraftIndex, IndexBuilder, IndexConfig, SegmentCatalog}
import graft.query.{MatchMode, ScoreMode}
import graft.streaming.IncrementalIndex

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nBase = 300
  private val nMore = 150
  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
  private lazy val corpus = (0L until (nBase + nMore)).map(i => i -> WebCorpus.text(i, 42L)._1)
  private lazy val naive = new NaiveSearch(corpus)
  private lazy val cfg = IndexConfig(bucketBits = 6)

  private def collectScores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private lazy val appendedIndex: GraftIndex = {
    // base build on the first nBase docs
    IndexBuilder.build(spark,
      WebCorpus.generate(spark, nBase, 4), "doc_id", "text", s"$tmp/idx", cfg)
    // stream the remaining docs in via Structured Streaming (AvailableNow)
    val morePath = s"$tmp/incoming"
    WebCorpus.generate(spark, nBase + nMore, 4)
      .where(col("doc_id") >= nBase)
      .write.mode("overwrite").parquet(morePath)
    val stream = spark.readStream
      .schema(spark.read.parquet(morePath).schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(morePath)
    IncrementalIndex.streamAppend(spark, stream, s"$tmp/idx",
      "doc_id", "text", s"$tmp/checkpoint", cfg)
    GraftIndex(spark, s"$tmp/idx")
  }

  test("streamed segments join the index: stats equal a full rebuild") {
    assert(appendedIndex.meta.nDocs == naive.nDocs)
    assert(math.abs(appendedIndex.meta.avgdl - naive.avgdl) < 1e-6)
    assert(appendedIndex.meta.segments.length >= 2, "expected appended segments")
  }

  test("search spans base + appended segments, scores match naive") {
    val byDf = naive.df.toSeq.sortBy { case (t, d) => (-d, t) }.map(_._1)
    val terms = Seq(byDf.head, byDf(1))
    val got = collectScores(
      appendedIndex.searchTerms(terms, MatchMode.All, ScoreMode.Tf))
    assert(got == naive.tfScoreAnd(terms))
    assert(got.keys.exists(_ >= nBase), "appended docs must be searchable")
    // BM25 uses merged df / avgdl across segments
    val gotB = collectScores(
      appendedIndex.searchTerms(terms, MatchMode.All, ScoreMode.Bm25()))
    val wantB = naive.bm25ScoreAnd(terms)
    assert(gotB.keySet == wantB.keySet)
    gotB.foreach { case (id, s) => assert(math.abs(s - wantB(id)) < 1e-9, s"doc $id") }
  }

  test("compaction folds segments, results unchanged") {
    val byDf = naive.df.toSeq.sortBy { case (t, d) => (-d, t) }.map(_._1)
    val terms = Seq(byDf.head, byDf(1))
    val before = collectScores(
      appendedIndex.searchTerms(terms, MatchMode.All, ScoreMode.Bm25()))
    val compacted = IncrementalIndex.compact(spark, s"$tmp/idx", cfg)
    assert(compacted.meta.segments.length == 1 &&
      compacted.meta.segments.head.startsWith("base-m"),
      s"versioned base pointer, got ${compacted.meta.segments}")
    assert(compacted.meta.deleteSegments.isEmpty)
    val after = collectScores(
      compacted.searchTerms(terms, MatchMode.All, ScoreMode.Bm25()))
    assert(after == before)
    // phrase positions survive compaction
    val phrase = collectScores(compacted.searchPhrase("spark fulltext search engine"))
    val want = naive.phraseMatch("spark fulltext search engine")
      .map { case (id, n) => id -> n.toDouble }
    assert(phrase == want)
  }

  // ---- mutation path: delete / upsert / compact folding ----
  // (ordered after the compaction test: each stage re-reads committed state)

  private def topTerms: Seq[String] =
    naive.df.toSeq.sortBy { case (t, d) => (-d, t) }.map(_._1).take(2)

  test("delete tombstones docs out of results; compact folds them physically") {
    val idxPath = s"$tmp/idx"
    val terms = topTerms
    val before = collectScores(
      GraftIndex(spark, idxPath).searchTerms(terms, MatchMode.All, ScoreMode.Tf))
    val victims = before.keys.toSeq.sorted.take(3)
    val afterDel = IncrementalIndex.delete(spark, idxPath, victims)
    assert(afterDel.meta.deleteSegments.nonEmpty)
    assert(afterDel.meta.nDocs == naive.nDocs - victims.length,
      "delete keeps nDocs exact without waiting for compact")
    // deleting the same ids again must not double-subtract (idempotent)
    val again = IncrementalIndex.delete(spark, idxPath, victims)
    assert(again.meta.nDocs == afterDel.meta.nDocs)
    val got = collectScores(afterDel.searchTerms(terms, MatchMode.All, ScoreMode.Tf))
    assert(got == before -- victims)
    assert(afterDel.docs.where(col("doc_id").isin(victims: _*)).count() == 0,
      "doc stats must hide tombstoned docs")
    // top-k never resurrects a deleted doc
    val k = math.min(5, got.size)
    val topIds = afterDel.topK(
      afterDel.searchTerms(terms, MatchMode.Any, ScoreMode.Bm25(), topK = k), k)
      .collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !topIds.contains(v)))
    val compacted = IncrementalIndex.compact(spark, idxPath, cfg)
    assert(compacted.meta.deleteSegments.isEmpty)
    assert(compacted.meta.nDocs == naive.nDocs - victims.length,
      "compact recomputes corpus stats")
    val got2 = collectScores(compacted.searchTerms(terms, MatchMode.All, ScoreMode.Tf))
    assert(got2 == got)
  }

  test("partial compaction folds small/touched segments, base stays byte-identical") {
    val p = s"$tmp/idx-part"
    val nExtra = 40
    val all = WebCorpus.generate(spark, nBase + nExtra, 4)
    IndexBuilder.build(spark, all.where(col("doc_id") < nBase), "doc_id", "text", p, cfg)
    IncrementalIndex.appendSegment(spark, p,
      all.where(col("doc_id").between(nBase, nBase + 19)), "doc_id", "text", "seg-a", cfg)
    IncrementalIndex.appendSegment(spark, p,
      all.where(col("doc_id").between(nBase + 20, nBase + 39)), "doc_id", "text", "seg-b", cfg)
    val victims = Seq(nBase + 5L, nBase + 21L, nBase + 33L)
    IncrementalIndex.delete(spark, p, victims)

    def sha(dir: String): Map[String, String] = {
      val d = new java.io.File(dir)
      d.listFiles().filter(f => f.getName.startsWith("part-")).map { f =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        f.getName -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
      }.toMap
    }
    val basePostingsBefore = sha(s"$p/postings")
    val baseDocsBefore = sha(s"$p/docs")
    assert(basePostingsBefore.nonEmpty)

    // base (~30k postings) stays; the two small appends + tombstones fold
    val pc = IncrementalIndex.compactPartial(spark, p, cfg, minKeepPostings = 10000L)
    assert(pc.meta.segments.length == 2 && pc.meta.segments.head == "." &&
      pc.meta.segments(1).startsWith("fold-m"), s"got ${pc.meta.segments}")
    assert(pc.meta.deleteSegments.isEmpty, "tombstones must be consumed")
    assert(sha(s"$p/postings") == basePostingsBefore, "base postings rewritten!")
    assert(sha(s"$p/docs") == baseDocsBefore, "base docs rewritten!")
    assert(!new java.io.File(s"$p/seg-a").exists(), "folded segment dir must be gone")

    // results equal a from-scratch rebuild over the post-mutation corpus
    val rebuilt = IndexBuilder.build(spark,
      all.where(!col("doc_id").isin(victims: _*)), "doc_id", "text",
      s"$tmp/idx-part-rebuild", cfg)
    assert(pc.meta.nDocs == rebuilt.meta.nDocs)
    assert(math.abs(pc.meta.avgdl - rebuilt.meta.avgdl) < 1e-9)
    val terms = topTerms
    for ((mode, score) <- Seq((MatchMode.All, ScoreMode.Tf: ScoreMode),
        (MatchMode.Any, ScoreMode.Bm25(): ScoreMode))) {
      val a = collectScores(pc.searchTerms(terms, mode, score))
      val b = collectScores(rebuilt.searchTerms(terms, mode, score))
      assert(a.keySet == b.keySet, s"$mode/$score")
      a.foreach { case (id, s) => assert(math.abs(s - b(id)) < 1e-9, s"doc $id $mode") }
    }
    val ph = collectScores(pc.searchPhrase("spark fulltext search engine"))
    val phWant = collectScores(rebuilt.searchPhrase("spark fulltext search engine"))
    assert(ph == phWant)
    // id-order fast path still sees ascending disjoint segment ranges
    val firstIds = pc.idOrderScan(10).collect().map(_.getLong(0)).toSeq
    assert(firstIds == (0L until 10L).toSeq)

    // second partial pass with nothing foldable is a no-op
    val again = IncrementalIndex.compactPartial(spark, p, cfg, minKeepPostings = 10000L)
    assert(again.meta.segments == pc.meta.segments)

    // a tombstone landing in the BASE forces the base into the fold set
    IncrementalIndex.delete(spark, p, Seq(7L))
    val pc2 = IncrementalIndex.compactPartial(spark, p, cfg, minKeepPostings = 10000L)
    assert(pc2.meta.deleteSegments.isEmpty)
    assert(pc2.meta.segments.length == 1 &&
      pc2.meta.segments.head.startsWith("fold-m") &&
      pc2.meta.segments != pc.meta.segments.tail, // fresh name, not recycled
      s"got ${pc2.meta.segments}")
    val a2 = collectScores(pc2.searchTerms(terms, MatchMode.All, ScoreMode.Tf))
    val b2 = collectScores(IndexBuilder.build(spark,
      all.where(!col("doc_id").isin((victims :+ 7L): _*)), "doc_id", "text",
      s"$tmp/idx-part-rebuild2", cfg).searchTerms(terms, MatchMode.All, ScoreMode.Tf))
    assert(a2 == b2)
  }

  test("load --ifexists gates replacements on the EXISTING record; --each transforms") {
    val p = s"$tmp/idx-load"
    val base = WebCorpus.generate(spark, 100, 2)
    IndexBuilder.build(spark, base, "doc_id", "text", p, cfg)
    // incoming: replace docs 10,11 (existing) and add 200,201 (new)
    val incoming = Seq(
      (10L, "replattempt even"), (11L, "replattempt odd"),
      (200L, "brandnew row"), (201L, "brandnew row too")).toDF("doc_id", "text")
    // ifexists: only EVEN existing docs may be replaced; each: mark text
    val loaded = IncrementalIndex.load(spark, p, incoming, "doc_id", "text",
      "seg-load", existing = base, cfg = cfg,
      ifexists = Some(col("doc_id") % 2 === 0),
      each = Some(df => df.withColumn("text", concat(col("text"), lit(" eached")))))
    // doc 10 replaced (even), doc 11 NOT (odd, predicate over existing row)
    val repl = collectScores(loaded.searchTerms(Seq("replattempt"), MatchMode.Any, ScoreMode.Tf))
    assert(repl.keySet == Set(10L), s"got ${repl.keySet}")
    // new ids always load; --each applied to every surviving record
    val eached = collectScores(loaded.searchTerms(Seq("eached"), MatchMode.Any, ScoreMode.Tf))
    assert(eached.keySet == Set(10L, 200L, 201L))
    assert(collectScores(loaded.searchTerms(Seq("brandnew"), MatchMode.Any, ScoreMode.Tf))
      .keySet == Set(200L, 201L))
    // doc 11 still matches its ORIGINAL text
    val t11 = WebCorpus.text(11L, 42L)._1.split(" ").head
    assert(collectScores(loaded.searchTerms(Seq(t11), MatchMode.Any, ScoreMode.Tf))
      .contains(11L))
    assert(loaded.meta.nDocs == 102) // 100 + 2 new
  }

  test("partial compaction survives a fully-deleted segment (empty fold)") {
    val p = s"$tmp/idx-allgone"
    val all = WebCorpus.generate(spark, nBase + 20, 4)
    IndexBuilder.build(spark, all.where(col("doc_id") < nBase), "doc_id", "text", p, cfg)
    IncrementalIndex.appendSegment(spark, p,
      all.where(col("doc_id") >= nBase), "doc_id", "text", "seg-x", cfg)
    // kill EVERY doc of the appended segment → its fold would be empty
    IncrementalIndex.delete(spark, p, (nBase.toLong until (nBase + 20).toLong).toSeq)
    val pc = IncrementalIndex.compactPartial(spark, p, cfg, minKeepPostings = 10000L)
    assert(pc.meta.deleteSegments.isEmpty)
    assert(pc.meta.nDocs == nBase)
    // the index must remain fully readable and correct
    val terms = topTerms
    val got = collectScores(pc.searchTerms(terms, MatchMode.All, ScoreMode.Tf))
    assert(got.nonEmpty && got.keys.forall(_ < nBase))
    assert(pc.idOrderScan(5).collect().map(_.getLong(0)).toSeq == (0L until 5L))
    assert(pc.postings.count() > 0)
  }

  test("manifest segment stats: zero footer reads on stats-bearing manifests, footer fallback on legacy") {
    val p = s"$tmp/idx-segstats"
    val all = WebCorpus.generate(spark, nBase + 40, 4)
    IndexBuilder.build(spark, all.where(col("doc_id") < nBase), "doc_id", "text", p, cfg)
    IncrementalIndex.appendSegment(spark, p,
      all.where(col("doc_id").between(nBase, nBase + 19)), "doc_id", "text", "seg-a", cfg)
    IncrementalIndex.appendSegment(spark, p,
      all.where(col("doc_id") >= nBase + 20), "doc_id", "text", "seg-b", cfg)
    val idx = GraftIndex(spark, p)

    // stats ride every commit, aligned with the segment list, and exact
    val ss = idx.meta.segStats
    assert(ss.map(_.name) == Seq(".", "seg-a", "seg-b"))
    assert(ss.map(_.nDocs).sum == idx.meta.nDocs)
    assert(ss.map(_.nPostings).sum == idx.meta.totalPostings)
    assert(ss(1).minDoc == nBase && ss(1).maxDoc == nBase + 19)
    assert(ss(2).minDoc == nBase + 20 && ss(2).maxDoc == nBase + 39)

    // id-order fast path + partial compaction consume the MANIFEST stats:
    // planning the id-order scan launches no job, on the appended index
    // and on its partial compaction
    val first10 = (0L until 10L).toSeq
    val (scan, scanJobs) = TestSpark.countJobs(idx.idOrderScan(10))
    assert(scanJobs == 0, s"idOrderScan planned with $scanJobs jobs")
    assert(scan.collect().map(_.getLong(0)).toSeq == first10)
    IncrementalIndex.delete(spark, p, Seq(nBase + 3L))
    val pc = IncrementalIndex.compactPartial(spark, p, cfg, minKeepPostings = 10000L)
    assert(pc.meta.deleteSegments.isEmpty)
    val (pcScan, pcJobs) = TestSpark.countJobs(pc.idOrderScan(10))
    assert(pcJobs == 0, s"idOrderScan after compactPartial planned with $pcJobs jobs")
    assert(pcScan.collect().map(_.getLong(0)).toSeq == first10)
    assert(pc.meta.segStats.map(_.name) == pc.meta.segments)
    assert(pc.meta.segStats.map(_.nPostings).sum == pc.meta.totalPostings)
    assert(pc.meta.segStats.map(_.nDocs).sum == pc.meta.nDocs)

    // LEGACY manifest (no segStats): the reader measures the segments
    // instead and still answers identically
    val mf = new java.io.File(p).listFiles()
      .filter(_.getName.matches("manifest-\\d+\\.json")).maxBy(_.getName)
    val j = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8"))
    val stripped = j.removeField { case (k, _) => k == "segStats" }
    java.nio.file.Files.write(mf.toPath,
      org.json4s.jackson.JsonMethods.pretty(stripped).getBytes("UTF-8"))
    // drop Hadoop LocalFileSystem's checksum sidecar for the edited file
    new java.io.File(mf.getParent, s".${mf.getName}.crc").delete()
    val legacy = GraftIndex(spark, p)
    assert(legacy.meta.segStats.isEmpty)
    assert(legacy.idOrderScan(10).collect().map(_.getLong(0)).toSeq == first10)
  }

  test("upsert replaces a doc under the SAME id; state survives compact") {
    val idxPath = s"$tmp/idx"
    val term = topTerms.head
    val before = collectScores(
      GraftIndex(spark, idxPath).searchTerms(Seq(term), MatchMode.Any, ScoreMode.Tf))
    val victim = before.keys.min
    val upd = Seq((victim, "zzzupserted zzzupserted unique content"))
      .toDF("doc_id", "text")
    val up = IncrementalIndex.upsert(spark, idxPath, upd, "doc_id", "text", "seg-up", cfg)
    // old postings dead, same id re-added with new text
    val after = collectScores(up.searchTerms(Seq(term), MatchMode.Any, ScoreMode.Tf))
    assert(after == before - victim)
    assert(collectScores(up.searchTerms(Seq("zzzupserted"), MatchMode.Any, ScoreMode.Tf))
      == Map(victim -> 2.0))
    // dl of the new version visible in doc stats
    assert(up.docs.where(col("doc_id") === victim).select("dl").as[Int].head() == 4)
    val compacted = IncrementalIndex.compact(spark, idxPath, cfg)
    assert(collectScores(
      compacted.searchTerms(Seq("zzzupserted"), MatchMode.Any, ScoreMode.Tf))
      == Map(victim -> 2.0))
    assert(collectScores(
      compacted.searchTerms(Seq(term), MatchMode.Any, ScoreMode.Tf))
      == before - victim)
  }

  test("generated segment names are never recycled across compactions") {
    val p = s"$tmp/idx-recycle"
    val all = WebCorpus.generate(spark, nBase, 4)
    IndexBuilder.build(spark, all, "doc_id", "text", p, cfg)
    val d1 = IncrementalIndex.delete(spark, p, Seq(2L))
    val name1 = d1.meta.deleteSegments.head
    val snapV = GraftIndex.versions(spark, p).last
    // partial compaction consumes the tombstones (base is tombstone-touched)
    val pc = IncrementalIndex.compactPartial(spark, p, cfg,
      minKeepPostings = Long.MaxValue)
    assert(pc.meta.deleteSegments.isEmpty)
    // a NEW delete must get a FRESH name — the old count-derived scheme
    // would recreate name1 here and silently corrupt the retained snapshot
    val d2 = IncrementalIndex.delete(spark, p, Seq(5L))
    val name2 = d2.meta.deleteSegments.head
    assert(name2 != name1, s"recycled tombstone segment name $name2")
    // and the old snapshot fails loudly (its del dir is gone), instead of
    // silently applying the new tombstones
    intercept[java.io.FileNotFoundException] {
      GraftIndex.atVersion(spark, p, snapV)
    }
  }

  test("time travel: retained snapshots replay history; compact expires them loudly") {
    val p = s"$tmp/idx-tt"
    val all = WebCorpus.generate(spark, nBase + 40, 4)
    IndexBuilder.build(spark, all.where(col("doc_id") < nBase), "doc_id", "text", p, cfg)
    val v0 = GraftIndex.versions(spark, p).last
    val term = topTerms.head
    def scoresAt(v: Long): Map[Long, Double] = collectScores(
      GraftIndex.atVersion(spark, p, v).searchTerms(Seq(term), MatchMode.Any, ScoreMode.Tf))
    val base = collectScores(
      GraftIndex(spark, p).searchTerms(Seq(term), MatchMode.Any, ScoreMode.Tf))
    IncrementalIndex.appendSegment(spark, p,
      all.where(col("doc_id") >= nBase), "doc_id", "text", "seg-tt", cfg)
    val v1 = GraftIndex.versions(spark, p).last
    val victims = base.keys.toSeq.sorted.take(2)
    IncrementalIndex.delete(spark, p, victims)
    val v2 = GraftIndex.versions(spark, p).last
    assert(GraftIndex.versions(spark, p) == Seq(v0, v1, v2))
    // each snapshot answers with ITS state: pre-append, post-append,
    // post-delete — and the pinned handles don't disturb the live head
    assert(scoresAt(v0) == base)
    val appended = scoresAt(v1)
    assert(appended.view.filterKeys(_ < nBase).toMap == base,
      "append must not change pre-existing docs' scores")
    assert(appended.keySet.forall(k => k < nBase + 40))
    assert(scoresAt(v2) == appended -- victims)
    val live = collectScores(
      GraftIndex(spark, p).searchTerms(Seq(term), MatchMode.Any, ScoreMode.Tf))
    assert(live == scoresAt(v2))
    // pinned handles key the select cache on their own version
    assert(GraftIndex.atVersion(spark, p, v0).snapshotId !=
      GraftIndex(spark, p).snapshotId)
    // compaction IS snapshot expiry: the folded-away snapshot now fails
    // at open time, loudly; the new head still reads
    IncrementalIndex.compact(spark, p, cfg)
    val e = intercept[java.io.FileNotFoundException] {
      GraftIndex.atVersion(spark, p, v1)
    }
    assert(e.getMessage.contains("expired") || e.getMessage.contains("not retained"))
    assert(collectScores(GraftIndex(spark, p)
      .searchTerms(Seq(term), MatchMode.Any, ScoreMode.Tf)) == live)
  }

  /** a fresh index of docs 0 until 100 at `p` */
  private def small(p: String): GraftIndex =
    IndexBuilder.build(spark, WebCorpus.generate(spark, 100, 2), "doc_id", "text", p, cfg)

  private def hits(idx: GraftIndex, term: String): Set[Long] =
    collectScores(idx.searchTerms(Seq(term), MatchMode.Any, ScoreMode.Tf)).keySet

  /** an indexed term of corpus doc `i` */
  private def termOf(i: Long): String =
    graft.analyzer.Analyzers.byName(cfg.tokenizer).tokenize(corpus(i.toInt)._2).head.term

  test("an upsert whose append fails leaves the previous manifest as head") {
    val p = s"$tmp/upsert-fail"
    val base = small(p)
    val fs = SegmentCatalog.fileSystem(spark, p)
    val versions = SegmentCatalog.listVersions(fs, p)
    val victims = Seq(7L, 3L)
    val victimTerm = victims.map(v => v -> termOf(v)).toMap
    victimTerm.foreach { case (v, t) => assert(hits(base, t).contains(v)) }
    // ids 7 then 3 in one partition break the builder's ascending-ids rule
    val bad = victims.map(v => (v, "replacement text")).toDF("doc_id", "text").coalesce(1)
    intercept[Exception] {
      IncrementalIndex.upsert(spark, p, bad, "doc_id", "text", "seg-bad", cfg)
    }
    val head = GraftIndex(spark, p)
    assert(SegmentCatalog.listVersions(fs, p) == versions)
    assert(head.meta.nDocs == 100)
    assert(!head.meta.deleteSegments.exists(_.startsWith("del-")))
    victimTerm.foreach { case (v, t) => assert(hits(head, t).contains(v), s"doc $v lost") }
  }

  test("an upsert is one manifest commit") {
    val p = s"$tmp/upsert-once"
    small(p)
    val fs = SegmentCatalog.fileSystem(spark, p)
    val before = SegmentCatalog.listVersions(fs, p)
    val up = IncrementalIndex.upsert(spark, p, Seq((5L, "zzzonce text")).toDF("doc_id", "text"),
      "doc_id", "text", "seg-once", cfg)
    assert(SegmentCatalog.listVersions(fs, p) == before :+ (before.last + 1))
    assert(up.meta.segments == Seq(".", "seg-once") && up.meta.deleteSegments.length == 1)
    assert(up.meta.nDocs == 100 && hits(up, "zzzonce") == Set(5L))
  }

  test("appends and upserts take the bucket space and block size of the manifest") {
    val base = IndexConfig(bucketBits = 5, blockSize = 16)
    val p = s"$tmp/layout"
    val fresh = s"$tmp/layout-fresh"
    val upIds = (7L until 400L by 13).take(31)
    val upText = upIds.map(i => i -> WebCorpus.text(i, 7L)._1).toMap
    val live = (0L until 400L).map(i => i -> upText.getOrElse(i, WebCorpus.text(i, 42L)._1))
    IndexBuilder.build(spark, WebCorpus.generate(spark, 400, 4), "doc_id", "text", p, base)
    // the caller's config asks for an auto salt and 128-posting blocks
    IncrementalIndex.upsert(spark, p, upIds.map(i => i -> upText(i)).toDF("doc_id", "text")
      .coalesce(1), "doc_id", "text", "seg-up", IndexConfig())
    val compacted = IncrementalIndex.compactPartial(spark, p)
    val rebuilt = IndexBuilder.build(spark, live.toDF("doc_id", "text")
      .repartitionByRange(4, $"doc_id").sortWithinPartitions("doc_id"), "doc_id", "text", fresh, base)
    def layout(idx: GraftIndex) =
      idx.postings.select("bucket", "min_doc", "cnt").as[(Int, Long, Int)].collect()
    val got = layout(compacted)
    val want = layout(rebuilt)
    assert(got.forall { case (b, lo, cnt) => b == lo >> 5 && cnt <= 16 })
    assert(got.length == want.length)
    assert(got.map(_._1).toSet == want.map(_._1).toSet)
    // the salt comes from the manifest, so an append counts no batch: it
    // launches as many jobs as one whose config hints the batch size
    def batch(lo: Long) = (lo until lo + 31).map(i => i -> WebCorpus.text(i, 42L)._1)
      .toDF("doc_id", "text").coalesce(1)
    val (_, counted) = TestSpark.countJobs(IncrementalIndex.appendSegment(spark, p,
      batch(400), "doc_id", "text", "seg-a", IndexConfig()))
    val (_, hinted) = TestSpark.countJobs(IncrementalIndex.appendSegment(spark, p,
      batch(431), "doc_id", "text", "seg-b", IndexConfig(nDocsHint = 31)))
    assert(counted == hinted)
  }

  test("a commit staged on a stale base throws and leaves the head unchanged") {
    val p = s"$tmp/stale"
    small(p)
    val fs = SegmentCatalog.fileSystem(spark, p)
    val stale = GraftIndex(spark, p, SegmentCatalog.listVersions(fs, p).lastOption)
    IncrementalIndex.delete(spark, p, Seq(1L))
    val versions = SegmentCatalog.listVersions(fs, p)
    val head = SegmentCatalog.readMeta(fs, p)
    intercept[java.util.ConcurrentModificationException] {
      IncrementalIndex.commit(stale, IncrementalIndex.Delta(), Map.empty)
    }
    assert(SegmentCatalog.listVersions(fs, p) == versions)
    assert(SegmentCatalog.readMeta(fs, p) == head)
  }

  /** stream the parquet files under `in` into `p`, one batch per file */
  private def stream(p: String, in: String, checkpoint: String): GraftIndex = {
    IncrementalIndex.streamAppend(spark, spark.readStream
      .schema(spark.read.parquet(in).schema).option("maxFilesPerTrigger", "1").parquet(in),
      p, "doc_id", "text", checkpoint, cfg)
    GraftIndex(spark, p)
  }

  /** docs [lo, hi) as parquet files of 20 docs each under `in`, written
    * in id order */
  private def streamInput(in: String, lo: Long, hi: Long): String = {
    (lo until hi by 20L).foreach { a =>
      WebCorpus.generate(spark, a + 20, 1).where(col("doc_id") >= a)
        .write.mode("append").parquet(in)
    }
    in
  }

  private def docIds(idx: GraftIndex): Seq[Long] =
    idx.docs.select("doc_id").as[Long].collect().sorted.toSeq

  test("a stream batch replayed after its commit adds nothing") {
    val p = s"$tmp/replay"
    small(p)
    val in = streamInput(s"$tmp/replay-in", 100, 160)
    val first = stream(p, in, s"$tmp/replay-ck")
    assert(first.meta.segments.length == 4 && docIds(first) == (0L until 160L))
    val versions = SegmentCatalog.listVersions(SegmentCatalog.fileSystem(spark, p), p)
    // lose the checkpoint's newest batch commit: that batch is replayed
    val commits = new java.io.File(s"$tmp/replay-ck/commits")
    val newest = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit)).maxBy(_.toLong)
    new java.io.File(commits, newest).delete()
    new java.io.File(commits, s".$newest.crc").delete()
    val replayed = stream(p, in, s"$tmp/replay-ck")
    assert(new java.io.File(commits, newest).exists(), "the batch was not replayed")
    assert(SegmentCatalog.listVersions(SegmentCatalog.fileSystem(spark, p), p) == versions)
    assert(replayed.meta.segments == first.meta.segments)
    assert(replayed.meta.nDocs == 160 && docIds(replayed) == (0L until 160L))
  }

  test("a second stream under a fresh checkpoint lands all its rows") {
    val p = s"$tmp/restream"
    small(p)
    val first = stream(p, streamInput(s"$tmp/restream-in1", 100, 160), s"$tmp/restream-ck1")
      .meta.segments
    // batch ids restart at 0 under the new checkpoint
    val second = stream(p, streamInput(s"$tmp/restream-in2", 160, 220), s"$tmp/restream-ck2")
    assert(first.length == 4 && second.meta.segments.length == 7)
    assert(second.meta.segments.take(4) == first)
    assert(second.meta.nDocs == 220 && docIds(second) == (0L until 220L))
    assert(hits(second, termOf(200)).contains(200L))
  }
}
