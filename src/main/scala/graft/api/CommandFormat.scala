package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** groonga command-version-1 JSON envelope — the wire shape every groonga
  * client parses (doc/source/reference/commands/select.rst "Output format",
  * concrete bodies in the .log files under
  * doc/source/example/reference/commands/select):
  *
  *   [ [return_code, start_sec, elapsed_sec],
  *     [ [[n_hits], [[col,type], ...], row, row, ...],
  *       DRILLDOWN_RESULT..., | {"label": DRILLDOWN_RESULT, ...} ] ]
  *
  * The engine half (this object) renders result sets into bodies and
  * wraps them; the HTTP layer the reference carries around this is out of
  * scope (SURVEY §2.1 output formats row). Every formatter takes a
  * [[ResultSet]]: a schema and rows already on the driver. A result set
  * holds at most [[ResultSet.MaxRows]] rows, so an unlimited result is
  * refused however it was made, and a select body is bounded by the
  * command's offset/limit. A DataFrame becomes one by [[ResultSet.of]];
  * the DataFrame overloads of the formatters only call it. */
object CommandFormat {

  /** One result set to format: its schema and its rows, in order. */
  final case class ResultSet(schema: StructType, rows: Seq[Row]) {
    require(rows.length <= ResultSet.MaxRows, ResultSet.exceeds(ResultSet.MaxRows))
  }

  object ResultSet {
    final val MaxRows = 10000

    private def exceeds(maxRows: Int): String =
      s"result exceeds maxRows=$maxRows — apply the command's limit before formatting"

    /** `df`'s rows, collected, refusing a result of more than `maxRows` */
    def of(df: DataFrame, maxRows: Int = MaxRows): ResultSet = {
      val rows = df.take(maxRows + 1)
      require(rows.length <= maxRows, exceeds(maxRows))
      ResultSet(df.schema, scala.collection.immutable.ArraySeq.unsafeWrapArray(rows))
    }
  }

  /** Spark → groonga type names (include/groonga/groonga.h builtin types) */
  def grnType(dt: DataType): String = dt match {
    case ByteType => "Int8"
    case ShortType => "Int16"
    case IntegerType => "Int32"
    case LongType => "Int64"
    case FloatType | DoubleType => "Float"
    case BooleanType => "Bool"
    case StringType => "ShortText"
    case TimestampType | TimestampNTZType => "Time"
    case _ => "Text"
  }

  private def esc(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => if (b) "true" else "false"
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" // JSON has no literals for these
      else if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => jsonValue(f.toDouble)
    case t: java.sql.Timestamp => (t.getTime / 1000.0).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) + t.getNano / 1e9).toString
    // nested values (vector columns, snippets arrays, struct rows) render
    // as JSON arrays/objects, not Scala toString
    case b: Array[Byte] =>
      "\"" + java.util.Base64.getEncoder.encodeToString(b) + "\""
    case a: Array[_] => a.map(jsonValue).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(jsonValue).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => "\"" + esc(String.valueOf(k)) + "\":" + jsonValue(x) }
        .mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => jsonValue(r.get(i))).mkString("[", ",", "]")
    case other => other.toString
  }

  /** one result body: [[n_hits], [[name,type]...], rows...]. `nHits` is
    * the pre-limit match count (the reference reports total hits even when
    * limit trims the rows). */
  def body(rs: ResultSet, nHits: Long): String = {
    val cols = rs.schema.fields
      .map(f => s"""["${esc(f.name)}","${grnType(f.dataType)}"]""")
      .mkString("[", ",", "]")
    val rowsJson = rs.rows.map { (r: Row) =>
      (0 until r.length).map(i => jsonValue(r.get(i))).mkString("[", ",", "]")
    }
    (Seq(s"[$nHits]", cols) ++ rowsJson).mkString("[", ",", "]")
  }

  def body(df: DataFrame, nHits: Long, maxRows: Int = ResultSet.MaxRows): String =
    body(ResultSet.of(df, maxRows), nHits)

  /** full envelope; drilldowns render positionally, labeled drilldowns as
    * an object — exactly the two select.rst output shapes */
  def envelope(searchBody: String, drilldowns: Seq[String] = Nil,
      labeled: Map[String, String] = Map.empty,
      returnCode: Int = 0, startSec: Double = 0.0, elapsedSec: Double = 0.0): String = {
    val parts = Seq(searchBody) ++ drilldowns ++
      (if (labeled.isEmpty) Nil
       else Seq(labeled.toSeq.sortBy(_._1)
         .map { case (l, b) => "\"" + esc(l) + "\":" + b }
         .mkString("{", ",", "}")))
    s"[[$returnCode,$startSec,$elapsedSec],[${parts.mkString(",")}]]"
  }

  // ---- command version 3 (the {header, body} object envelope every modern
  // groonga client speaks; reference rendering lib/output.c:3404-3465
  // header, :2106-2113 n_hits, :2176-2193 column maps, golden shape
  // test/command/suite/select/drilldown/plain/command_version/3) ----

  /** v3 result body: {"n_hits":N,"columns":[{"name","type"}...],"records":[...]} */
  def bodyV3(rs: ResultSet, nHits: Long): String = {
    val cols = rs.schema.fields
      .map(f => s"""{"name":"${esc(f.name)}","type":"${grnType(f.dataType)}"}""")
      .mkString("[", ",", "]")
    val recs = rs.rows.map { (r: Row) =>
      (0 until r.length).map(i => jsonValue(r.get(i))).mkString("[", ",", "]")
    }.mkString("[", ",", "]")
    s"""{"n_hits":$nHits,"columns":$cols,"records":$recs}"""
  }

  def bodyV3(df: DataFrame, nHits: Long): String = bodyV3(ResultSet.of(df), nHits)

  // ---- XML output (output_type=xml). The reference produces it by
  // transforming the JSON-ish intermediate through transform_xml
  // (lib/output.c:3005-3260): RESULTSET 0 becomes the RESULTPAGE, each
  // drilldown RESULTSET becomes a NAVIGATIONENTRY of self-closing
  // NAVIGATIONELEMENT attribute rows. Escaping = grn_text_escape_xml
  // (lib/str.c:2738: only " < > &); offset/limit clamped by
  // grn_output_range_normalize (lib/output.c:71). ----

  private def escXml(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("&quot;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '&' => sb.append("&amp;")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** value TEXT inside XML: scalars as the intermediate's own text
    * (numbers/bools via the JSON renderer, strings unquoted+escaped),
    * vectors joined ", ", weight vectors "key:value, ..." — the exact
    * joins transform_xml applies (lib/output.c:3120-3145). */
  private def xmlValue(v: Any): String = v match {
    case null => ""
    case s: String => escXml(s)
    case a: Array[Byte] => java.util.Base64.getEncoder.encodeToString(a)
    case a: Array[_] => a.map(xmlValue).mkString(", ")
    case s: scala.collection.Seq[_] => s.map(xmlValue).mkString(", ")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${escXml(String.valueOf(k))}:${xmlValue(x)}" }
        .mkString(", ")
    case other => escXml(jsonValue(other).stripPrefix("\"").stripSuffix("\""))
  }

  /** grn_output_range_normalize (lib/output.c:71): negative limit counts
    * from the end (+size+1), negative offset from the end (+size);
    * out-of-range collapses to (0, 0) like the reference's error paths. */
  def rangeNormalize(size: Int, offset0: Int, limit0: Int): (Int, Int) = {
    var off = offset0
    var lim = limit0
    if (lim < 0) { lim += size + 1; if (lim < 0) return (0, 0) }
    else if (lim > size) lim = size
    if (off < 0) {
      off += size
      if (off < 0) {
        if (lim + off >= 0) { lim += off; off = 0 } else return (0, 0)
      }
    } else if (off != 0 && off >= size) return (0, 0)
    val end = off + lim
    if (end > size) lim -= end - size
    (off, lim)
  }

  /** full select result as the reference XML page. `rs` carries the
    * already-offset/limited rows; `offset`/`limit` are the COMMAND's raw
    * values (they only shape the header attributes and HIT numbering,
    * exactly like the reference, where the rows were windowed upstream). */
  def xml(rs: ResultSet, nHits: Long, offset: Int, limit: Int,
      drilldowns: Seq[(ResultSet, Long)]): String = {
    val (off, lim) = rangeNormalize(nHits.toInt, offset, limit)
    val sb = new java.lang.StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n")
      .append("<SEGMENTS>\n<SEGMENT>\n<RESULTPAGE>\n")
      .append(s"""<RESULTSET OFFSET="$off" LIMIT="$lim" NHITS="$nHits">\n""")
    val names = rs.schema.fieldNames
    var i = 0
    rs.rows.foreach { r =>
      sb.append(s"""<HIT NO="${off + 1 + i}">\n""")
      var c = 0
      while (c < names.length) {
        sb.append(s"""<FIELD NAME="${escXml(names(c))}">${xmlValue(r.get(c))}</FIELD>\n""")
        c += 1
      }
      sb.append("</HIT>\n")
      i += 1
    }
    sb.append("</RESULTSET>\n")
    drilldowns.foreach { case (dd, n) =>
      sb.append("<NAVIGATIONENTRY>\n")
        .append(s"""<NAVIGATIONELEMENTS COUNT="$n">\n""")
      val dnames = dd.schema.fieldNames
      dd.rows.foreach { r =>
        sb.append("<NAVIGATIONELEMENT ")
        var c = 0
        while (c < dnames.length) {
          sb.append(s"""${escXml(dnames(c))}="${xmlValue(r.get(c))}" """)
          c += 1
        }
        sb.append("/>\n")
      }
      sb.append("</NAVIGATIONELEMENTS>\n</NAVIGATIONENTRY>\n")
    }
    sb.append("</RESULTPAGE>\n</SEGMENT>\n</SEGMENTS>\n")
    sb.toString
  }

  def xml(df: DataFrame, nHits: Long, offset: Int, limit: Int,
      drilldowns: Seq[(DataFrame, Long)] = Nil): String =
    xml(ResultSet.of(df), nHits, offset, limit,
      drilldowns.map { case (dd, n) => (ResultSet.of(dd), n) })

  // ---- msgpack output (output_type=msgpack). The reference packs the SAME
  // v1 envelope tree through the MessagePack packers (lib/msgpack.c wiring,
  // lib/output.c:293-1161) instead of the JSON printer; typed scalars keep
  // their width (no base64, no integral-double folding). Trees are plain
  // Scala values; graft.api.Msgpack does the byte encoding. ----

  /** v1 body as a value tree: [[n_hits], [[name,type]...], rows...].
    * Rows pack as arrays (Msgpack handles Row/Seq/Map nesting). */
  def bodyTree(rs: ResultSet, nHits: Long): Vector[Any] = {
    val cols: Vector[Any] =
      rs.schema.fields.map(f => Vector(f.name, grnType(f.dataType)): Any).toVector
    Vector(Vector(nHits): Any, cols) ++ rs.rows.map(r => r: Any)
  }

  def bodyTree(df: DataFrame, nHits: Long, maxRows: Int = ResultSet.MaxRows): Vector[Any] =
    bodyTree(ResultSet.of(df, maxRows), nHits)

  /** full v1 envelope as msgpack bytes; positional drilldowns append as
    * sibling result sets, labeled drilldowns as one trailing map — the
    * exact two select.rst output shapes, like [[envelope]] for JSON. */
  def msgpack(searchBody: Vector[Any], drilldowns: Seq[Vector[Any]] = Nil,
      labeled: Map[String, Vector[Any]] = Map.empty,
      returnCode: Int = 0, startSec: Double = 0.0,
      elapsedSec: Double = 0.0): Array[Byte] = {
    val parts: Vector[Any] = (Vector(searchBody: Any) ++ drilldowns) ++
      (if (labeled.isEmpty) Nil else Vector(labeled: Any))
    Msgpack.pack(Vector(Vector[Any](returnCode, startSec, elapsedSec): Any, parts))
  }

  /** v3 envelope. Drilldowns nest INSIDE the body as a labeled object —
    * in v3 even plain (positional) drilldowns are keyed by their column
    * name (the reference golden keys the `--drilldown tag` result as
    * "tag"). `searchBody` must be a bodyV3 map; drilldown bodies are
    * spliced in before its closing brace. */
  def envelopeV3(searchBody: String, drilldowns: Map[String, String] = Map.empty,
      returnCode: Int = 0, startSec: Double = 0.0, elapsedSec: Double = 0.0): String = {
    val header =
      s"""{"return_code":$returnCode,"start_time":$startSec,"elapsed_time":$elapsedSec}"""
    val withDd =
      if (drilldowns.isEmpty) searchBody
      else {
        require(searchBody.endsWith("}"), "searchBody must be a bodyV3 map")
        val dd = drilldowns.toSeq.sortBy(_._1)
          .map { case (l, b) => "\"" + esc(l) + "\":" + b }
          .mkString("{", ",", "}")
        searchBody.dropRight(1) + s""","drilldowns":$dd}"""
      }
    s"""{"header":$header,"body":$withDd}"""
  }
}
