package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.GraftIndex

/** Suggest family (reference: plugins/suggest/suggest.c — completion,
  * correction, suggestion over learned reading/co-occurrence tables).
  * Spark-first re-expression over the index's own statistics: the term
  * dictionary IS the reading table (df = popularity), so
  *  - complete  = prefix scan (optionally romaji-kana) ranked by df
  *  - correct   = edit-distance candidates ranked by (distance, df)
  *  - suggest   = co-occurring terms of the query terms ranked by joint df
  * Learned-log weighting would swap df for a click-count column — the
  * plumbing is identical.
  */
object Suggest {

  /** LEARNER INGESTION — build the suggest dataset's item + pair tables
    * from a RAW query-event stream, re-expressing the reference learner's
    * event model (plugins/suggest/suggest.c:47-130, learner_learn at
    * :995-1022): every keystroke/submit posts an event
    * `(seq, time, item, type)` and the learner maintains
    *
    *  - `items`: freq += 1 per event, freq2 += 1 per SUBMIT event,
    *    last = the item's newest event time (suggest.c
    *    learner_increment_item_freq / learner_set_last_post_time);
    *  - pair freq0/freq1 (complete/correct learning, suggest.c
    *    learner_learn_for_complete_and_correcnt): on submit, walk the
    *    session's PRIOR events newest-first — stop at the first gap
    *    >= MIN_LEARN_DISTANCE (60 s, suggest.c:39) WITHOUT counting;
    *    each non-submit prior adds (pre_item → post_item).freq0 and the
    *    walk continues; a submit prior adds .freq1 and STOPS;
    *  - pair freq2 (suggest learning, learner_learn_for_suggest): each
    *    DISTINCT token of the submitted item (skipping a token equal to
    *    the whole item) adds (token → post_item).freq2.
    *
    * Spark-first shape: the sequential walk becomes window arithmetic — a
    * prior qualifies iff it is within the 60 s horizon AND at-or-after the
    * session's last preceding submit (gaps grow monotonically walking
    * back, so the reference's break is exactly this range predicate). One
    * seq-keyed window pass + one seq-keyed join whose fanout is bounded by
    * session length; at 100 TB the event log shuffles once on seq_id and
    * once on the (pre, post) pair key — no driver state, no iteration.
    *
    * Input columns: (seq_id, ts_us, item, submit). Returns
    * (items(item, freq, freq2, last_us),
    *  pairs(pre, post, freq0, freq1, freq2)). */
  def learn(events: DataFrame, minLearnDistanceUs: Long = 60000000L)
      : (DataFrame, DataFrame) = {
    val ev = events.select(col("seq_id").cast("long").as("seq_id"),
      col("ts_us").cast("long").as("ts_us"),
      col("item").cast("string").as("item"),
      col("submit").cast("boolean").as("submit"))
    val items = ev.groupBy(col("item")).agg(
      count(lit(1)).as("freq"),
      sum(when(col("submit"), 1L).otherwise(0L)).as("freq2"),
      max(col("ts_us")).as("last_us"))
    val w = Window.partitionBy(col("seq_id")).orderBy(col("ts_us").asc)
    val seq = ev.withColumn("rn", row_number().over(w))
      .withColumn("lsr", max(when(col("submit"), col("rn")))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
    val posts = seq.where(col("submit"))
      .select(col("seq_id"), col("rn").as("post_rn"),
        col("ts_us").as("post_ts"), col("item").as("post"),
        coalesce(col("lsr"), lit(0)).as("from_rn"))
    val priors = seq.select(col("seq_id"), col("rn").as("pre_rn"),
      col("ts_us").as("pre_ts"), col("item").as("pre"),
      col("submit").as("pre_submit"))
    val cc = posts.join(priors, Seq("seq_id"))
      .where(col("pre_rn") < col("post_rn") &&
        col("pre_rn") >= col("from_rn") &&
        col("post_ts") - col("pre_ts") < minLearnDistanceUs)
      .groupBy(col("pre"), col("post"))
      .agg(sum(when(!col("pre_submit"), 1L).otherwise(0L)).as("freq0"),
        sum(when(col("pre_submit"), 1L).otherwise(0L)).as("freq1"))
    val tok = ev.where(col("submit"))
      .select(col("item").as("post"),
        explode(array_distinct(split(col("item"), " "))).as("pre"))
      .where(col("pre") =!= col("post"))
      .groupBy(col("pre"), col("post")).agg(count(lit(1)).as("freq2"))
    val pairs = cc.join(tok, Seq("pre", "post"), "full")
      .select(col("pre"), col("post"),
        coalesce(col("freq0"), lit(0L)).as("freq0"),
        coalesce(col("freq1"), lit(0L)).as("freq1"),
        coalesce(col("freq2"), lit(0L)).as("freq2"))
    (items, pairs)
  }

  /** one learner event (streaming front input row) */
  case class LearnEvent(seq_id: Long, ts_us: Long, item: String, submit: Boolean)

  /** per-seq state for the streaming learner: the session tail — the last
    * submit (the walk's freq1 anchor) plus every later event, horizon-
    * pruned. (ts_us, item, submit) triples, ascending ts. */
  case class LearnTail(events: Seq[(Long, String, Boolean)])

  /** one learner DELTA: kind ∈ item/item2/pair0/pair1/pair2; `a`/`b` are
    * (item, "") for item kinds and (pre, post) for pair kinds. Summing all
    * deltas reproduces [[learn]]'s tables exactly ([[mergeDeltas]]). */
  case class LearnDelta(kind: String, a: String, b: String, n: Long, ts_us: Long)

  /** STREAMING LEARNER — the reference's suggest learner is a daemon that
    * consumes submitted events continuously (plugins/suggest/suggest.c
    * learner_learn at :995-1022); this is the Structured-Streaming
    * re-expression: `flatMapGroupsWithState` keyed by seq_id holds each
    * session's tail (the last submit + later events, pruned to the 60 s
    * horizon — anything older can never qualify for a future post, so
    * state is bounded by the session's 60 s event rate) and emits
    * item/pair DELTAS as events arrive. Deltas are mergeable monoid rows:
    * any micro-batch partitioning of the same in-order event log folds to
    * the identical learner tables as the batch [[learn]] (SuggestStreamSpec
    * proves multi-batch ≡ batch; the `suggest_learn_stream` gate replays
    * the same DuckDB oracle as `suggest_learn_pairs`).
    *
    * In-order contract: like the reference daemon, events of one sequence
    * arrive in time order (cross-SEQUENCE order is free). Within a
    * micro-batch the group is sorted by ts before the walk, so only
    * cross-batch reordering within one seq violates the contract. */
  def learnStream(events: DataFrame, minLearnDistanceUs: Long = 60000000L)
      : org.apache.spark.sql.Dataset[LearnDelta] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select(col("seq_id").cast("long").as("seq_id"),
      col("ts_us").cast("long").as("ts_us"),
      col("item").cast("string").as("item"),
      col("submit").cast("boolean").as("submit")).as[LearnEvent]
    ev.groupByKey(_.seq_id)
      .flatMapGroupsWithState[LearnTail, LearnDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, it, state) =>
          val evs = it.toIndexedSeq.sortBy(e => (e.ts_us, e.item))
          var tail = state.getOption.map(_.events.toVector).getOrElse(Vector.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[LearnDelta]
          evs.foreach { e =>
            out += LearnDelta("item", e.item, "", 1L, e.ts_us)
            if (e.submit) {
              out += LearnDelta("item2", e.item, "", 1L, e.ts_us)
              tail.foreach { case (pts, pitem, psub) =>
                if (e.ts_us - pts < minLearnDistanceUs)
                  out += LearnDelta(if (psub) "pair1" else "pair0",
                    pitem, e.item, 1L, 0L)
              }
              e.item.split(" ").distinct.filter(_ != e.item)
                .foreach(t => out += LearnDelta("pair2", t, e.item, 1L, 0L))
              tail = Vector((e.ts_us, e.item, true))
            } else {
              tail = (tail :+ ((e.ts_us, e.item, false)))
                .dropWhile { case (pts, _, _) =>
                  e.ts_us - pts >= minLearnDistanceUs }
            }
          }
          state.update(LearnTail(tail))
          out.iterator
      }
  }

  /** Fold a delta table (one micro-batch's output, or a whole run's) into
    * the learner tables — the exact shapes [[learn]] returns. Deltas form
    * a commutative monoid, so merging is order- and partitioning-
    * independent. */
  def mergeDeltas(deltas: DataFrame): (DataFrame, DataFrame) = {
    val items = deltas.where(col("kind").isin("item", "item2"))
      .groupBy(col("a").as("item"))
      .agg(sum(when(col("kind") === "item", col("n")).otherwise(0L)).as("freq"),
        sum(when(col("kind") === "item2", col("n")).otherwise(0L)).as("freq2"),
        max(col("ts_us")).as("last_us"))
    val pairs = deltas.where(col("kind").startsWith("pair"))
      .groupBy(col("a").as("pre"), col("b").as("post"))
      .agg(sum(when(col("kind") === "pair0", col("n")).otherwise(0L)).as("freq0"),
        sum(when(col("kind") === "pair1", col("n")).otherwise(0L)).as("freq1"),
        sum(when(col("kind") === "pair2", col("n")).otherwise(0L)).as("freq2"))
    (items, pairs)
  }

  /** completion: dictionary terms starting with `prefix` (df-ranked,
    * deterministic ties by term) */
  def complete(idx: GraftIndex, prefix: String, k: Int = 10): DataFrame =
    idx.terms.where(col("term").startsWith(prefix))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .orderBy(desc("df"), asc("term")).limit(k)

  /** completion against a LEARNED frequency table — the reference suggest
    * dataset's `item_<dataset>` table, which the query-log learner
    * populates with submit counts (plugins/suggest/suggest.c; the
    * suggest command ranks completions by that frequency). `learned`
    * columns: (term, freq). Rank = (learned freq desc, dictionary df
    * desc, term): items never seen in the logs fall back to corpus
    * popularity — the cold-start behavior of a fresh dataset. The learned
    * table is expected to be small relative to the dictionary (it is
    * bounded by observed queries), so it rides a broadcast join. */
  def completeLearned(idx: GraftIndex, prefix: String, learned: DataFrame,
      k: Int = 10): DataFrame =
    idx.terms.where(col("term").startsWith(prefix))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .join(broadcast(learned.where(col("term").startsWith(prefix))
        .groupBy(col("term")).agg(sum(col("freq")).as("freq"))),
        Seq("term"), "left")
      .withColumn("freq", coalesce(col("freq"), lit(0L)))
      .orderBy(desc("freq"), desc("df"), asc("term")).limit(k)
      .select(col("term"), col("freq"), col("df"))

  /** correction: terms within `maxDistance` edits, nearest + most frequent
    * first (deterministic ties by term) */
  def correct(idx: GraftIndex, term: String, maxDistance: Int = 2, k: Int = 10): DataFrame =
    idx.terms
      .where(length(col("term"))
        .between(term.length - maxDistance, term.length + maxDistance))
      .withColumn("dist", levenshtein(lit(term), col("term")))
      .where(col("dist") <= maxDistance && col("term") =!= term)
      .groupBy(col("term"), col("dist")).agg(sum(col("df")).as("df"))
      .orderBy(asc("dist"), desc("df"), asc("term")).limit(k)

  /** suggestion: terms co-occurring with `term` in the corpus, by number of
    * co-occurring docs (the co-occurrence table of the reference's learner,
    * computed from the index instead of a query log).
    *
    * Scale shape: the postings scan is PRUNED to the matched docs' bucket
    * set with per-bucket doc-range overlap (bucket/min_doc/max_doc are
    * parquet columns with row-group stats, so untouched buckets are never
    * read), only live postings count (graft.index.Tombstones), and rows
    * are filtered by a broadcast sorted-id binary search BEFORE grouping —
    * never a full-index decode. Matched docs are capped at `maxDocs`
    * (smallest ids first, deterministic). */
  def suggest(idx: GraftIndex, term: String, k: Int = 10,
      maxDocs: Int = 10000): DataFrame = {
    import idx.spark.implicits._
    // the matched docs with the bucket their postings carry. Appends salt
    // ids with the index's bucketBits, but segments appended by older
    // versions salted them with bits sized from their own batch, and a
    // compaction keeps each block's bucket; so a doc's bucket is read off
    // its live postings of `term`, not derived from the index's bucketBits.
    // All of a doc's live postings sit in one segment, under one bucket.
    val hits = idx.tombstones.liveBlocks(idx.postings.where(col("term") === term)
        .as[graft.index.PostingBlockRow](GraftIndex.blockEncoder))
      .flatMap { b =>
        val ds = graft.codec.PostingCodec.decode(b.payload).docIds
        ds.indices.iterator.filter(i => i == 0 || ds(i) != ds(i - 1)).map(i => (ds(i), b.bucket))
      }.toDF("doc_id", "bucket")
      .orderBy(asc("doc_id")).limit(maxDocs).as[(Long, Int)].collect()
    if (hits.isEmpty)
      return idx.spark.emptyDataset[(String, Long)].toDF("co_term", "n_docs")
    val ids = hits.map(_._1)
    // pushdown stays DATA, not expression shape: one `bucket IN (...)` plus
    // a global doc-range overlap (both parquet row-group prunable) — a
    // per-bucket OR Column chain would be a 10k-node expression tree when
    // 10k docs scatter over 10k buckets. The exact per-bucket [min,max]
    // check rides a broadcast map and runs before any payload decode.
    val byBucket: Map[Int, (Long, Long)] =
      hits.groupBy(_._2).map { case (b, hs) => b -> (hs.head._1, hs.last._1) }
    val prune = col("bucket").isin(byBucket.keys.toSeq: _*) &&
      col("max_doc") >= ids.head && col("min_doc") <= ids.last
    val idsBc = idx.spark.sparkContext.broadcast(ids)
    val rangesBc = idx.spark.sparkContext.broadcast(byBucket)
    // the count is PRE-AGGREGATED per partition inside the decode pass
    // (guide §2.3 "aggregate before you shuffle"): the exchange carries one
    // (term, n) row per distinct term per partition, not one row per
    // co-occurrence. A block counts its distinct matched docs: a doc's
    // section postings are consecutive and never split across blocks, and
    // a live (term, doc) pair lives in one segment only, so the per-block
    // counts add up to the distinct docs per term.
    val co = idx.tombstones.liveBlocks(idx.postings.where(prune)
        .as[graft.index.PostingBlockRow](GraftIndex.blockEncoder))
      .mapPartitions { bs =>
        val counts = new java.util.HashMap[String, Long]()
        val set = idsBc.value
        val ranges = rangesBc.value
        bs.foreach { b =>
          val (lo, hi) = ranges(b.bucket)
          if (b.max_doc >= lo && b.min_doc <= hi) {
            val d = graft.codec.PostingCodec.decode(b.payload)
            var i = 0; var n = 0L
            while (i < d.count) {
              if ((i == 0 || d.docIds(i) != d.docIds(i - 1)) &&
                  java.util.Arrays.binarySearch(set, d.docIds(i)) >= 0) n += 1
              i += 1
            }
            if (n > 0) counts.merge(b.term, n, (a, bn) => a + bn)
          }
        }
        import scala.jdk.CollectionConverters._
        counts.entrySet().iterator().asScala.map(e => (e.getKey, e.getValue.longValue()))
      }.toDF("co_term", "n")
    co.where(col("co_term") =!= term)
      .groupBy(col("co_term")).agg(sum(col("n")).as("n_docs"))
      .orderBy(desc("n_docs"), asc("co_term")).limit(k)
  }
}
