package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Deduplication operators for training-data pipelines.
  *
  * All hashing is PolyHash (engine-independent arithmetic, see
  * graft.functions.PolyHash) so results are reproducible bit-for-bit in any
  * SQL engine — the DuckDB oracles replicate every step.
  *
  * Scale notes (100 TB): every op is a hash-partitioned groupBy/join on a
  * derived key (text hash / shingle / band key) with map-side combine; no
  * driver-side state, no O(n^2) step — pair generation is blocked by shared
  * shingle (df-capped) or shared LSH band.
  */
object Dedup {
  final val P = graft.functions.GraftFunctions.HashMod

  /** eager materialization point for a finished (tiny) pair set, so the
    * upstream persisted inputs can be released. Plan-dump tooling sets
    * -Dgraft.plan.nocheckpoint=1 to keep the plan lazy so explain shows
    * the full pipeline instead of an RDD scan; nothing in the query or
    * bench path sets it. */
  private def cut(df: DataFrame): DataFrame =
    if (sys.props.get("graft.plan.nocheckpoint").contains("1")) df
    else df.localCheckpoint()

  /** exact dedup: group by full text, keep the smallest id.
    * Output: (keep_id, n_dups) one row per distinct text. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))

  /** exact dedup under bag-of-words normalization (sorted token multiset):
    * catches shuffled copies. */
  def exactNormalized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("k", array_join(array_sort(split(col(textCol), " ")), " "))
      .groupBy(col("k"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))

  /** distinct word n-gram shingles per doc: (id, shingle). Docs shorter than
    * `n` tokens yield no shingles (guarded: sequence(0, size-n) would emit a
    * descending range and slice() would throw for them). */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shinglesRaw(docs, idCol, textCol, n).distinct()

  /** non-distinct shingle stream — callers that key on the shingle HASH
    * dedup after hashing so the corpus-wide shuffle carries 8-byte longs,
    * not shingle strings */
  private def shinglesRaw(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    docs
      .select(col(idCol).as("id"),
        explode(when(size(toks) >= n,
          transform(sequence(lit(0), size(toks) - n),
            i => array_join(slice(toks, i + 1, lit(n)), " ")))
          .otherwise(array())).as("shingle"))
  }

  /** distinct hashed shingles per doc: (id, h). The map-side projection
    * hashes each shingle before ANY exchange, so the distinct and every
    * downstream join/groupBy shuffles fixed-width longs — at 100 TB this
    * is ~3x less shuffle IO than keying on the strings. PolyHash mod
    * 1e9+7: collisions are vanishingly rare and, because the DuckDB
    * oracles replay the same hash, engine-identical. */
  def hashedShingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shinglesRaw(docs, idCol, textCol, n)
      .select(col("id"), shingle_hash(col("shingle")).as("h"))
      // ONE id-keyed exchange that both the (id, h) distinct AND every
      // downstream per-doc aggregate (minhash signatures, decontaminate's
      // per-doc match count) reuse — hash-partitioning on id satisfies the
      // (id, h) clustered distribution, so the distinct plans with no
      // exchange of its own: two corpus-wide exchanges become one
      // (guide §2.4 "two operations keyed the same way share one exchange")
      .repartition(col("id"))
      .distinct()

  /** Benchmark decontamination (the GPT-3/Gopher/Llama recipe, public
    * literature): flag training docs that share >= `minMatches` distinct
    * word n-grams with an evaluation set.
    *
    * Scale shape: the eval side collapses to a DISTINCT hashed-n-gram set —
    * eval suites are 1e4..1e6 n-grams, i.e. a few MB of longs, so it is
    * BROADCAST and the 100-TB training corpus is scanned exactly once with
    * a map-side semi-join (no corpus-wide exchange at all); only matched
    * (id, h) survivors — a tiny fraction — reach the per-doc count groupBy.
    * Output: (id, matched_ngrams, contaminated) one row per training doc.
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, n: Int = 13, minMatches: Int = 1): DataFrame = {
    val evalGrams = hashedShingles(evalDocs, idCol, textCol, n).select("h").distinct()
    // hashedShingles is distinct per (id, h): count(1) = distinct matches
    val counts = hashedShingles(train, idCol, textCol, n)
      .join(broadcast(evalGrams), Seq("h"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("matched_ngrams"))
    train.select(col(idCol).as("id"))
      .join(counts, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("matched_ngrams"), lit(0L)).as("matched_ngrams"),
        (coalesce(col("matched_ngrams"), lit(0L)) >= minMatches).as("contaminated"))
  }

  /** Bloom-gated decontamination — same OUTPUT as [[decontaminate]]
    * (bit-for-bit: the bloom only prefilters; a final exact semi-join
    * removes its false positives), for eval suites whose distinct n-gram
    * set is too large to broadcast as an exact hash set. An exact long set
    * costs ~8+ B/gram plus hash-table overhead; the bloom is FIXED size by
    * construction (`numBits`/8 bytes, ~1.2 B/item at 1% fpp), so at 1e8+
    * eval grams it is the only broadcastable form.
    *
    * Scale shape: one distributed aggregate folds the eval grams into the
    * sketch (Spark's own BloomFilterAggregate, the runtime-filter machinery
    * — map-side partial blooms OR-merged at the driver), which then rides
    * the corpus scan as a FOLDABLE codegen'd `might_contain` filter: the
    * 100-TB train side is scanned exactly once with zero exchange, and only
    * bloom survivors (true matches + ~fpp of the rest) reach the exact
    * confirm join, whose corpus-side exchange is therefore ~matches-sized
    * instead of corpus-sized. The eval side of the confirm join shuffles
    * eval-sized data — unavoidable for exactness, and independent of the
    * corpus size. */
  def decontaminateBloom(train: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, n: Int = 13, minMatches: Int = 1,
      estimatedEvalGrams: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    // hashedShingles is distinct per (id, h) only — collapse to the
    // h-distinct set (what both consumers key on), and materialize it ONCE
    // (localCheckpoint): the bloom aggregate and the confirm semi-join
    // would otherwise each re-run the eval tokenize+hash pipeline
    val evalGrams = hashedShingles(evalDocs, idCol, textCol, n)
      .select("h").distinct().localCheckpoint()
    val bloomAgg = column(new BloomFilterAggregate(expression(col("h")),
      Literal(estimatedEvalGrams), Literal(numBits)).toAggregateExpression())
    // the sketch is numBits/8 bytes REGARDLESS of eval size — this head()
    // is a bounded driver fetch, not a data collect
    val bloomBytes = evalGrams.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val noEvalGrams = bloomBytes == null // empty eval set: nothing contaminates
    val counts =
      if (noEvalGrams) null
      else {
        val mightContain = column(BloomFilterMightContain(
          Literal.create(bloomBytes, BinaryType), expression(col("h"))))
        hashedShingles(train, idCol, textCol, n)
          .where(mightContain)                    // map-side, zero exchange
          .join(evalGrams, Seq("h"), "left_semi") // exact confirm: drops fps
          .groupBy(col("id")).agg(count(lit(1)).as("matched_ngrams"))
      }
    val base = train.select(col(idCol).as("id"))
    val joined = if (noEvalGrams) base.withColumn("matched_ngrams", lit(null).cast("long"))
                 else base.join(counts, Seq("id"), "left")
    joined.select(col("id"),
      coalesce(col("matched_ngrams"), lit(0L)).as("matched_ngrams"),
      (coalesce(col("matched_ngrams"), lit(0L)) >= minMatches).as("contaminated"))
  }

  /** exact n-gram Jaccard near-dup pairs: candidates blocked by shared
    * shingle hash (df-capped to bound join fanout on boilerplate shingles),
    * then |A∩B| / (|A|+|B|-|A∩B|) >= threshold. All keying is on the
    * 8-byte shingle hash (see hashedShingles). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8, maxShingleDf: Int = 100): DataFrame = {
    // shingle set feeds 4 plan branches (df cap, both join sides, sizes):
    // persist so the self-join doesn't recompute the lineage per branch
    val sh = hashedShingles(docs, idCol, textCol, n).persist()
    // df cap as a WINDOW count over the h partitioning instead of a
    // groupBy + join-back: one exchange on h (which the h-keyed self-join
    // below reuses) in place of two, same surviving row set (guide §2.4)
    val filtered = sh
      .withColumn("sdf", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .where(col("sdf") <= maxShingleDf)
      .select(col("id"), col("h"))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("nsh"))
    val a = filtered.select(col("id").as("doc_a"), col("h"))
    val b = filtered.select(col("id").as("doc_b"), col("h"))
    val inter = a.join(b, Seq("h"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("m"))
    val result = inter
      .join(sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("nsh", "na"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("nsh", "nb"), Seq("doc_b"))
      .withColumn("jaccard", col("m").cast("double") / (col("na") + col("nb") - col("m")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    // pair set is tiny; materialize so the shingle cache can be released
    val out = cut(result)
    sh.unpersist()
    out
  }

  /** minhash aggregation over a hashed-shingle DF (id, h):
    * h_i(x) = ((2i+1)*H + 12345i+7) mod P. `withSize` additionally emits
    * the per-doc distinct-shingle count as `nsh` IN THE SAME groupBy —
    * callers that need both (LSH verification) save a second corpus-wide
    * aggregate over the shingle table (guide §2.4). */
  private def minhashAgg(hashed: DataFrame, numHashes: Int,
      withSize: Boolean = false): DataFrame = {
    val mins: Seq[Column] = (0 until numHashes).map { i =>
      min((lit(2L * i + 1) * col("h") + lit(12345L * i + 7)) % lit(P)).as(s"mh$i")
    }
    val aggs = if (withSize) mins :+ count(lit(1)).as("nsh") else mins
    hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** minhash signatures: (id, mh0..mh{numHashes-1}), from shingle base hash
    * H via the affine family h_i(x) = ((2i+1)*H + 12345i+7) mod P. */
  def minhash(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 16): DataFrame =
    minhashAgg(hashedShingles(docs, idCol, textCol, n), numHashes)

  /** minhash-LSH near-dup candidate pairs, verified by exact Jaccard.
    *
    * Scale shape: ONE persisted HASHED shingle DF (8-byte keys, see
    * hashedShingles) feeds both the signature pass and the verification
    * join; band keys are a single long (arithmetic fold of the band's
    * minhash values, no string building in the shuffle); band buckets
    * larger than `maxBandDf` members are dropped before the self-join (a
    * boilerplate-heavy band key would otherwise go O(m²) — mirror of
    * jaccardPairs' maxShingleDf cap); verification joins on (doc, h)
    * composite keys, never a per-pair shingle cross product.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 4, rows: Int = 4, threshold: Double = 0.8,
      maxBandDf: Int = 256): DataFrame = {
    val numHashes = bands * rows
    val sh = hashedShingles(docs, idCol, textCol, n).persist()
    // ONE groupBy(id) yields the signatures AND the per-doc shingle count
    // the verification step needs — the separate sizes aggregate over the
    // (much larger) shingle table is gone (guide §2.4)
    val mh = minhashAgg(sh, numHashes, withSize = true).persist()
    val bandCols = (0 until bands).map { b =>
      val key = (0 until rows).map(r => col(s"mh${b * rows + r}"))
        .reduceLeft((a, c) => a * lit(31L) + c) // values < P=1e9+7: fits a long
      struct(lit(b).as("band"), key.as("key"))
    }
    // band-df cap as a WINDOW count over the (band, key) partitioning: one
    // exchange instead of the groupBy + join-back pair, and the self-join
    // below joins on the same keys, so it runs exchange-free off the
    // persisted windowed rows
    val banded = mh.select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .withColumn("bdf", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("key"))))
      .where(col("bdf") <= maxBandDf)
      .select(col("id"), col("band"), col("key"))
      .persist()
    val f = banded
    val cands = f.as("x").join(f.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b")).distinct()
    val sizes = mh.select(col("id"), col("nsh"))
    // |A∩B| per candidate: equi-join on (doc, h), no shingle cross join
    val inter = cands
      .join(sh.select(col("id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(sh.select(col("id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("m"))
    val result = inter
      .join(sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("nsh", "na"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("nsh", "nb"), Seq("doc_b"))
      .withColumn("jaccard", col("m").cast("double") / (col("na") + col("nb") - col("m")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    // pair set is tiny; materialize so all three caches can be released
    val out = cut(result)
    banded.unpersist()
    mh.unpersist()
    sh.unpersist()
    out
  }

  /** simhash near-dup PAIRS within Hamming distance `maxDist`: the
    * signature is split into maxDist+1 bit chunks — by pigeonhole, any pair
    * within distance maxDist agrees exactly on at least one chunk — pairs
    * are blocked by (chunk index, chunk value) and verified with an exact
    * popcount(xor).
    *
    * Scale shape: defaults give 16-bit chunks (48-bit signatures / 3
    * chunks), so random-text bucket fanout is n/65536 per chunk value; AND
    * buckets larger than `maxBandDf` are dropped before the self-join —
    * on a boilerplate-heavy corpus a popular chunk value would otherwise
    * go O(m²) (same cap pattern as minhashLshPairs' maxBandDf /
    * jaccardPairs' maxShingleDf). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 48, maxDist: Int = 2, maxBandDf: Int = 256): DataFrame = {
    val sig = simhash(docs, idCol, textCol, bits)
    val bands = maxDist + 1
    val w = (bits + bands - 1) / bands
    val bandCols = (0 until bands).map { b =>
      val width = math.min(w, bits - b * w)
      val key = shiftright(col("simhash"), b * w) % lit(1L << width)
      struct(lit(b).as("band"), key.as("key"))
    }
    // band-df cap as a WINDOW count over the (band, key) partitioning (one
    // exchange instead of groupBy + join-back; the self-join below reuses
    // the same partitioning off the persisted rows — guide §2.4)
    val banded = sig.select(col("id"), col("simhash"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .withColumn("bdf", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("key"))))
      .where(col("bdf") <= maxBandDf)
      .select(col("id"), col("simhash"), col("band"), col("key"))
      .persist()
    val f = banded
    val pairs = f.as("x").join(f.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
    val result = pairs
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .where(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    // pair set is tiny; materialize so the banded cache can be released
    val out = cut(result)
    banded.unpersist()
    out
  }

  /** Passage-level exact dedup (the CCNet/paragraph-dedup recipe over
    * fixed-width token chunks, since web-extracted text here carries no
    * paragraph marks): each doc is cut into consecutive `k`-token chunks;
    * a chunk KEEPS only its globally first occurrence (ordered by
    * (doc_id, chunk_idx) — deterministic, engine-replayable); the doc's
    * text is reconstructed from its kept chunks in order.
    *
    * Output: (id, n_chunks, n_kept, text_dedup) one row per doc;
    * text_dedup = "" when every chunk was seen earlier (a full dup doc).
    *
    * Scale shape (100 TB): chunking is map-side; the ONLY corpus-wide
    * exchange is the first-occurrence window, hash-partitioned on the
    * chunk hash (8-byte longs, not chunk strings); the rebuild groupBy is
    * per-doc. A boilerplate chunk duplicated across millions of docs lands
    * in one hash partition — same skew CCNet accepts; rows there are
    * (id, idx, h) triples, not text, so the hot partition stays small:
    * chunk TEXT rides only the id-keyed (uniform) exchanges, never the
    * h-keyed (skewable) one. */
  def dedupChunks(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 20): DataFrame = {
    val toks = split(col(textCol), " ")
    val chunks = docs.select(col(idCol).as("id"),
        explode(when(size(toks) > 0,
          sequence(lit(0), ((size(toks) + (k - 1)) / k).cast("int") - 1))
          .otherwise(array())).as("chunk_idx"),
        toks.as("toks"))
      .select(col("id"), col("chunk_idx"),
        array_join(slice(col("toks"), col("chunk_idx") * k + 1, lit(k)), " ").as("chunk"))
      .withColumn("h", graft.functions.GraftFunctions.shingle_hash(col("chunk")))
    // first-occurrence winners: only (id, chunk_idx, h) rides this shuffle
    val w = Window.partitionBy(col("h")).orderBy(col("id"), col("chunk_idx"))
    val keep = chunks.select(col("id"), col("chunk_idx"), col("h"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("id"), col("chunk_idx"), lit(1L).as("kept"))
    chunks.drop("h").join(keep, Seq("id", "chunk_idx"), "left")
      .withColumn("kept", coalesce(col("kept"), lit(0L)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("kept")).as("n_kept"),
        array_join(transform(array_sort(collect_list(
            when(col("kept") === 1, struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("text_dedup"))
  }

  /** Exact duplicated-substring spans across the corpus (the n-gram-window
    * formulation of "deduplicating training data" span dedup): every sliding
    * window of `n` tokens that occurs in >= `minDocs` DISTINCT documents is a
    * duplicated window; per document, overlapping/adjacent duplicated windows
    * are merged (gaps-and-islands over start positions) into maximal spans.
    *
    * Output: one row per maximal span — (doc_id, span_start, span_end,
    * n_windows), token positions 1-based inclusive.
    *
    * Scale shape (100 TB): the only corpus-wide shuffle is the window
    * groupBy — hash-partitioned on the 8-byte PolyHash of the window (the
    * same shingle_hash keying every sibling op uses: the window TEXT never
    * rides a corpus-wide exchange, which at n=8 tokens would be ~50× wider
    * than the long), with map-side combine on (hash, doc) pairs; the span
    * merge is windowed per doc_id — co-partitioned with the join that
    * produced the hits, no second corpus-wide exchange. The DuckDB oracle
    * replays the same hash (as in dedupChunks), so collisions — already
    * vanishingly rare mod 1e9+7 — are engine-identical. Within-doc-only
    * repetition intentionally does NOT count as duplication (that is
    * `TextAnalysis.repetition`'s job).
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame = {
    val toks = split(col(textCol), " ")
    val wins = docs.select(col(idCol).as("doc_id"),
        explode(when(size(toks) >= n,
          transform(sequence(lit(1), size(toks) - n + 1),
            i => struct(i.as("pos"),
              shingle_hash(array_join(slice(toks, i, lit(n)), " ")).as("h"))))
          .otherwise(array())).as("pw"))
      .select(col("doc_id"), col("pw.pos").as("pos"), col("pw.h").as("h"))
    // minDocs == 2 (the default): "h occurs in >= 2 distinct docs" is
    // exactly min(doc) != max(doc) — computed as a WINDOW over the h
    // partitioning, which yields the duplicated-window HITS directly in
    // the same pass: the corpus is tokenized ONCE and shuffled ONCE
    // (the old dup-aggregate + join-back shape re-ran the whole
    // tokenize+explode lineage for the join side and exchanged it twice;
    // guide §2.4). minDocs > 2 keeps the aggregate + join form (a window
    // count-distinct has no single-pass equivalent).
    val hits =
      if (minDocs == 2) {
        val byH = Window.partitionBy(col("h"))
        wins
          .withColumn("dmin", min(col("doc_id")).over(byH))
          .withColumn("dmax", max(col("doc_id")).over(byH))
          .where(col("dmin") =!= col("dmax"))
          .select("doc_id", "pos")
      } else {
        val dup = wins.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("ddf"))
          .where(col("ddf") >= minDocs).select("h")
        wins.join(dup, Seq("h")).select("doc_id", "pos")
      }
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    // a window starting at pos covers tokens [pos, pos+n-1]; the next start
    // merges when it begins at or before pos+n (overlap or token-adjacent)
    val islands = hits
      .withColumn("ni",
        when(col("pos") - coalesce(lag(col("pos"), 1).over(byDoc), lit(-1000000)) > n,
          lit(1)).otherwise(lit(0)))
      .withColumn("island", sum(col("ni")).over(byDoc))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** simhash over word tokens weighted by tf: bit j set iff
    * sum_terms(tf * sign(bit_j(h))) > 0, where bits 0-29 come from
    * polyhash(term) and bits 30-59 from its affine re-mix
    * (31*h+17) mod P — polyhash mod P carries only ~30 usable bits, so
    * wide signatures need the second stream. `bits` <= 60. Signatures for
    * bits <= 30 are identical to earlier single-stream ones. */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 48): DataFrame = {
    require(bits <= 60, s"simhash supports at most 60 bits (two 30-bit hash streams), got $bits")
    // one id-keyed exchange shared by the (id, term) tf aggregate and the
    // per-doc bit aggregate below (same fusion as hashedShingles)
    val toks = docs.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("term"))
      .repartition(col("id"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("h", poly_hash(col("term")))
      .withColumn("h2", (col("h") * lit(31L) + lit(17L)) % lit(P))
    val bitSums: Seq[Column] = (0 until bits).map { j =>
      val src = if (j < 30) col("h") else col("h2")
      sum(col("tf") * (shiftright(src, j % 30) % 2 * 2 - 1)).as(s"s$j")
    }
    val agg = toks.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("id"), sig.as("simhash"))
  }

  /** Connected components over a near-duplicate PAIR set — the step that
    * turns pairwise evidence (minhash/simhash/embedding pairs) into
    * dedup CLUSTERS, so a pipeline can keep one canonical doc per
    * component. Output: (id, component) for every node that appears in a
    * pair, component = the smallest id reachable from it.
    *
    * Algorithm: min-label propagation with POINTER JUMPING — each round
    * first takes the min label over direct neighbors, then replaces every
    * label by its label's label (path halving). The jump collapses chains
    * geometrically, so convergence is O(log n) rounds rather than
    * O(diameter) plain propagation would need; each round is two
    * hash-partitioned joins + one groupBy on long keys, no driver state
    * beyond the per-round converged? scalar. Lineage is cut per round
    * (localCheckpoint) — an iterative plan would otherwise double in
    * depth every round — and the convergence test rides THAT job: a
    * changed-label accumulator is incremented inside the checkpoint
    * materialization pass, so each round is exactly ONE Spark job (a
    * separate compare-join would double the per-round job count). A task
    * retry can only over-count `changed` — that costs at most one extra
    * round against an already-converged (fixed-point) labeling, never a
    * wrong result. */
  /** Canonical selection per dedup cluster: among each component's
    * members, KEEP the one with the best `scoreCol` (ties → smallest id)
    * — the quality-aware upgrade of the min-id drop list (production
    * pipelines keep the best copy of a near-dup cluster, not the
    * first-seen one). Deterministic argmax via max(struct(score, -id));
    * one groupBy plus a join that reuses the same component-key
    * partitioning — no extra corpus-wide exchange beyond the drop list's.
    * Input `components` is [[connectedComponents]] output (id, comp);
    * output: (id, comp, kept_id) for every clustered doc. */
  def keepBest(components: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val joined = components.join(
      scores.select(col(idCol).as("id"), col(scoreCol).as("kb_score")), Seq("id"))
    val kept = joined.groupBy(col("comp"))
      .agg(max(struct(col("kb_score").as("s"), (-col("id")).as("nid"))).as("best"))
      .select(col("comp"), (-col("best").getField("nid")).as("kept_id"))
    components.join(kept, Seq("comp"))
      .select(col("id"), col("comp"), col("kept_id"))
  }

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val e = pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))
    // SMALL-PAIR-SET fast path (the same driver-cap pattern as the text
    // index's small-query kernel): near-dup pair sets are evidence, not
    // corpus — usually orders of magnitude smaller than the docs that
    // produced them. Under the cap, one bounded collect + union-find on
    // the driver replaces O(log n) distributed rounds of 4 exchanges
    // each; past the cap the pointer-jumping loop below runs unchanged.
    // Output is identical by definition: comp = min id reachable.
    // The decision counts cap + 1 rows without moving them, so a pair set
    // over the cap ships nothing to the driver (the cap is clamped so
    // cap + 1 still fits an Int).
    val ccCap = math.max(0L, math.min(Int.MaxValue - 1L,
      spark.conf.getOption("spark.graft.ccMaxDriverPairs")
        .map(_.toLong).getOrElse(1L << 20))).toInt
    if (ccCap > 0 && e.limit(ccCap + 1).count() <= ccCap) {
      val rows = e.collect()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
        r
      }
      rows.foreach { r =>
        val (u, v) = (r.getLong(0), r.getLong(1))
        if (!parent.containsKey(u)) parent.put(u, u)
        if (!parent.containsKey(v)) parent.put(v, v)
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv) }
      }
      import scala.jdk.CollectionConverters._
      val out = parent.keySet().iterator().asScala
        .map(id => (id, find(id))).toSeq
      return spark.createDataset(out).toDF("id", "comp")
    }
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .distinct().persist()
    var comp = sym.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      val nbrMin = sym
        .join(comp.select(col("id").as("v"), col("comp").as("vc")), Seq("v"))
        .groupBy(col("u")).agg(min(col("vc")).as("nmin"))
        .select(col("u").as("id"), col("nmin"))
      // carry the round's INCOMING label (oc) so the convergence count can
      // ride the checkpoint job instead of a second compare-join job
      val c1 = comp.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("oc"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
      val jump = c1.select(col("id").as("jid"), col("comp").as("jc"))
      val changed = spark.sparkContext.longAccumulator(s"cc-changed-$it")
      val c2 = c1.join(jump, c1("comp") === jump("jid"), "left")
        .select(c1("id"), coalesce(col("jc"), c1("comp")).as("comp"), col("oc"))
        .as[(Long, Long, Long)]
        .mapPartitions { rows =>
          rows.map { case (id, c, oc) =>
            if (c != oc) changed.add(1L)
            (id, c)
          }
        }
        .toDF("id", "comp")
        .localCheckpoint() // the ONE job per round; fills `changed`
      done = changed.value == 0L
      comp = c2
      it += 1
    }
    sym.unpersist()
    comp
  }
}
