package graft.index

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** Iceberg-style segment catalog: each index lives in a directory whose
  * stages (postings/terms/docs) carry their own _SUCCESS markers and whose
  * manifest.json is committed last via write-temp + atomic rename. A reader
  * only sees a fully-committed index; a crashed build resumes by skipping
  * completed stages. (The sandbox ships no Iceberg jar — this is the
  * documented Iceberg-shaped swap-in point from SURVEY.md §7.4.)
  */
object SegmentCatalog {
  implicit private val fmts: Formats = DefaultFormats

  final val ManifestFile = "manifest.json"

  /** manifests kept per index for time-travel reads (Iceberg-style
    * snapshot retention; compact() is the expiry that actually frees
    * segment bytes) */
  final val ManifestRetain = 8
  private val VersionedManifest = """manifest-(\d+)\.json""".r

  def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed manifests, (version, path), ascending. Recommits write
    * manifest-N.json (fresh name each time, tmp + rename-to-new-name =
    * atomic everywhere); the legacy unversioned manifest.json reads as
    * version -1. The previous manifest is deleted only AFTER the new one
    * lands, so a reader always sees the last fully-committed state
    * (last-wins), never a window with no manifest. */
  private def manifests(fs: FileSystem, outPath: String): Seq[(Long, Path)] = {
    val dir = new Path(outPath)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestFile => Some((-1L, st.getPath))
        case VersionedManifest(v) => Some((v.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(_._1)
  }

  def isCommitted(fs: FileSystem, outPath: String): Boolean =
    manifests(fs, outPath).nonEmpty

  /** Snapshot history: retained manifest versions, ascending. Every commit
    * keeps the newest [[ManifestRetain]] manifests (Iceberg-style snapshot
    * retention) — a retained version is readable via [[readMetaAt]] as
    * long as compaction has not physically removed the segments it
    * references (compact() IS snapshot expiry here). */
  def listVersions(fs: FileSystem, outPath: String): Seq[Long] =
    manifests(fs, outPath).map(_._1)

  /** opaque snapshot marker: changes with every commit (the latest manifest
    * file name) — cache-invalidation key for query-result caches */
  def snapshotVersion(fs: FileSystem, outPath: String): String =
    manifests(fs, outPath).lastOption.map(_._2.getName).getOrElse("uncommitted")

  /** directory of data segment `seg` ("." = the root base) */
  def segmentDir(outPath: String, seg: String): String =
    if (seg == ".") outPath else s"$outPath/$seg"

  /** delete data segment `seg`: the root base's tables, or the seg dir */
  def dropSegment(fs: FileSystem, outPath: String, seg: String): Unit =
    if (seg == ".")
      SegmentWriter.Tables.foreach(t => fs.delete(new Path(outPath, t), true))
    else fs.delete(new Path(outPath, seg), true)

  def stageComplete(fs: FileSystem, stagePath: String): Boolean =
    fs.exists(new Path(stagePath, "_SUCCESS"))

  /** Run `write` only if the stage has not already committed (resume). */
  def writeStageIfAbsent(fs: FileSystem, stagePath: String)(write: => Unit): Unit =
    if (!stageComplete(fs, stagePath)) write

  /** Publish `meta` as the next manifest version. With `readAt`, the
    * version the write read its base at, the commit refuses when another
    * commit landed since: its manifest, derived from the older base,
    * would silently drop that commit. */
  def commit(fs: FileSystem, outPath: String, meta: IndexMeta,
      metrics: Map[String, String], readAt: Option[Long] = None): Unit = {
    val json = Serialization.writePretty(Map(
      "formatVersion" -> meta.formatVersion,
      "tokenizer" -> meta.tokenizer,
      "withPositions" -> meta.withPositions,
      "blockSize" -> meta.blockSize,
      "bucketBits" -> meta.bucketBits,
      "nDocs" -> meta.nDocs,
      "avgdl" -> meta.avgdl,
      "totalPostings" -> meta.totalPostings,
      "totalPayloadBytes" -> meta.totalPayloadBytes,
      "segments" -> meta.segments,
      "sections" -> meta.sections,
      "deleteSegments" -> meta.deleteSegments,
      "segStats" -> meta.segStats.map(s => Map(
        "name" -> s.name, "nDocs" -> s.nDocs,
        "minDoc" -> s.minDoc, "maxDoc" -> s.maxDoc,
        "nPostings" -> s.nPostings, "payloadBytes" -> s.payloadBytes)),
      "metrics" -> metrics))
    val existing = manifests(fs, outPath)
    val head = existing.lastOption.map(_._1)
    if (readAt.exists(v => !head.contains(v)))
      throw new java.util.ConcurrentModificationException(s"$outPath moved from manifest " +
        s"version ${readAt.get} to ${head.getOrElse("none")} while a write was staged on it")
    val ver = head.fold(0L)(_ + 1)
    // a tmp name per attempt: racing commits never write into one file
    val tmp = new Path(outPath, f"manifest-$ver%06d.json.${java.util.UUID.randomUUID()}.tmp")
    val dst = new Path(outPath, f"manifest-$ver%06d.json")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    // dst never pre-exists (fresh version number), so this single rename is
    // the commit point on any FileSystem; a crash before it leaves the
    // previous manifest intact, after it the cleanup below is best-effort
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"manifest commit failed for $outPath")
    // snapshot retention: keep the newest ManifestRetain manifests (this
    // one + ManifestRetain-1 predecessors) for time-travel reads; GC the
    // rest, best-effort (a leftover is re-collected by the next commit)
    existing.dropRight(ManifestRetain - 1)
      .foreach { case (_, p) => try fs.delete(p, false) catch { case _: Exception => } }
  }

  def readMeta(fs: FileSystem, outPath: String): IndexMeta =
    readManifest(fs, outPath, manifests(fs, outPath).lastOption.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed manifest under $outPath"))._2)

  /** read a RETAINED historical manifest (time-travel). Fails loudly when
    * the version fell out of the retention window. */
  def readMetaAt(fs: FileSystem, outPath: String, version: Long): IndexMeta = {
    val all = manifests(fs, outPath)
    val hit = all.find(_._1 == version).getOrElse(throw new java.io.FileNotFoundException(
      s"manifest version $version not retained under $outPath " +
        s"(retained: ${all.map(_._1).mkString(",")}; retention keeps the " +
        s"newest $ManifestRetain commits)"))
    readManifest(fs, outPath, hit._2)
  }

  private def readManifest(fs: FileSystem, outPath: String, manifestPath: Path): IndexMeta = {
    val in = fs.open(manifestPath)
    val json = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString("UTF-8")
    } finally in.close()
    val j = JsonMethods.parse(json)
    IndexMeta(
      formatVersion = (j \ "formatVersion").extract[Int],
      tokenizer = (j \ "tokenizer").extract[String],
      withPositions = (j \ "withPositions").extract[Boolean],
      blockSize = (j \ "blockSize").extract[Int],
      bucketBits = (j \ "bucketBits").extract[Int],
      nDocs = (j \ "nDocs").extract[Long],
      avgdl = (j \ "avgdl").extract[Double],
      totalPostings = (j \ "totalPostings").extract[Long],
      totalPayloadBytes = (j \ "totalPayloadBytes").extract[Long],
      segments = (j \ "segments").extract[Seq[String]],
      sections = (j \ "sections").extractOpt[Seq[String]].getOrElse(Nil),
      deleteSegments = (j \ "deleteSegments").extractOpt[Seq[String]].getOrElse(Nil),
      segStats = (j \ "segStats").extractOpt[Seq[SegStats]].getOrElse(Nil))
  }
}
