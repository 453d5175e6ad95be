package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Crash-atomic artifact state + delete tombstones for the persisted vector
  * index ([[AnnIndex]], either payload) — the parity layer with the
  * text index's SegmentCatalog (which has generation tombstones + leveled
  * compaction; before this, vectors could be appended but never retired).
  *
  * State is a tiny versioned JSON file (`vecstate-N.json`, fresh name per
  * commit, rename = the commit point — the same recipe as
  * SegmentCatalog.commit) naming the CURRENT data directories and the
  * generation counter:
  *
  *  - every row in `lists`/`vecs` carries the `gen` it was written at
  *    (build = 0, each append/delete bumps the counter);
  *  - a delete appends `(vec_id, gen)` tombstones to the deletes dir; a row
  *    is DEAD iff some tombstone for its id has a HIGHER gen — so
  *    delete-then-append reuses the id naturally (the re-appended row's gen
  *    is above the tombstone's), exactly like the text index's generation
  *    semantics;
  *  - build/compaction/rebalance write FRESH directories, named for the
  *    [[nextVersion]] their commit takes (never reused at a path), and swap
  *    the state pointer atomically: a reader never sees a half-rewritten
  *    index, and a crash mid-compact leaves the old state fully intact (the
  *    orphan new dirs are never referenced).
  *
  * Scale shape: tombstones ride a `vec_id`-keyed aggregate + join — the
  * delete set is takedown-sized (≪ corpus), so AQE broadcasts it; the
  * filter costs one narrow column (`gen`) on the scan and zero extra
  * corpus-wide exchanges. When no tombstones exist the filter is skipped
  * entirely (one driver-side listing), keeping the code-only candidate-scan
  * plan shape (ExplainCheck rule 8) bit-identical to the pre-delete era.
  */
object VecStore {

  final case class State(gen: Long, lists: String, vecs: String,
      deletes: String, cents: String)

  val Default: State = State(0L, "lists", "vecs", "deletes", "centroids")

  private val StateRe = "vecstate-(\\d+)\\.json".r

  private def fs(spark: SparkSession, path: String) =
    graft.index.SegmentCatalog.fileSystem(spark, path)

  private def states(spark: SparkSession, path: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val f = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(p)) return Seq.empty
    f.listStatus(p).toSeq.flatMap { st =>
      st.getPath.getName match {
        case StateRe(v) => Some((v.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** current state; Default (gen 0, classic dir names) when no state file
    * has ever been committed — pre-delete-era artifacts read unchanged */
  def read(spark: SparkSession, path: String): State = {
    val ss = states(spark, path)
    if (ss.isEmpty) return Default
    val f = fs(spark, path)
    val in = f.open(ss.last._2)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.JsonMethods.parse(json).extract[State]
  }

  /** the version the next [[commit]] at `path` takes: versions only grow
    * (the newest state file is never pruned), so a directory named for one
    * has never been used */
  def nextVersion(spark: SparkSession, path: String): Long =
    states(spark, path).lastOption.map(_._1 + 1).getOrElse(1L)

  /** commit a new state: write tmp, rename to the NEXT fresh version name
    * (never pre-exists → the single rename is the commit point on any
    * FileSystem); older state files are pruned best-effort */
  def commit(spark: SparkSession, path: String, st: State): Unit = {
    val f = fs(spark, path)
    val next = nextVersion(spark, path)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val json = org.json4s.jackson.Serialization.write(st)
    val tmp = new org.apache.hadoop.fs.Path(path, s".vecstate-$next.json.tmp")
    val os = f.create(tmp, true)
    try os.write(json.getBytes("UTF-8")) finally os.close()
    val dst = new org.apache.hadoop.fs.Path(path, s"vecstate-$next.json")
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"vecstate commit failed for $path")
    states(spark, path).dropRight(1).foreach { case (_, old) =>
      try f.delete(old, false) catch { case _: Exception => () }
    }
  }

  /** tombstones folded to (vec_id, dgen = max delete gen), or None when the
    * deletes dir is absent/empty (one driver-side listing — the common
    * no-deletes case never touches the join path) */
  def tombstones(spark: SparkSession, path: String, st: State): Option[DataFrame] = {
    val f = fs(spark, path)
    val d = new org.apache.hadoop.fs.Path(path, st.deletes)
    if (!f.exists(d) || f.listStatus(d).forall(_.getPath.getName.startsWith("_")))
      return None
    Some(spark.read.parquet(s"$path/${st.deletes}")
      .groupBy(col("vec_id")).agg(max(col("gen")).as("dgen")))
  }

  /** append delete tombstones for `ids` at a fresh gen and commit it.
    * `ids` is a DataFrame (a takedown list at 100 TB is data, not a driver
    * literal); rows existing now have gen < the tombstone's and die, rows
    * appended later get a higher gen and live — id reuse for free. */
  def delete(spark: SparkSession, path: String, ids: DataFrame, idCol: String): Unit = {
    val st = read(spark, path)
    val g = st.gen + 1
    ids.select(col(idCol).cast("long").as("vec_id")).distinct()
      .withColumn("gen", lit(g))
      .write.mode("append").parquet(s"$path/${st.deletes}")
    commit(spark, path, st.copy(gen = g))
  }

  /** drop every row some tombstone outranks; `df` must carry (vec_id, gen).
    * No-op (and no plan change) when there are no tombstones. */
  def alive(spark: SparkSession, path: String, st: State, df: DataFrame): DataFrame =
    tombstones(spark, path, st) match {
      case None => df
      case Some(t) =>
        df.join(t, Seq("vec_id"), "left")
          .where(col("dgen").isNull || col("dgen") < col("gen"))
          .drop("dgen")
    }

  /** `gen` column of a data frame written before the delete era (no gen
    * column in the schema) reads as 0 */
  def withGen(df: DataFrame): DataFrame =
    if (df.columns.contains("gen")) df else df.withColumn("gen", lit(0L))
}
