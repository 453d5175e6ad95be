package perfbench

import scala.collection.mutable

/** One timed call. Times are System.nanoTime values; `op` groups the spans
  * of one traced operation and `parent` is -1 for the op's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder for the traced run. Spans nest by call
  * structure; Spark jobs seen by the [[Ledger]] are added afterwards as
  * `spark` children of the span they started in. Nothing is written until
  * the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var curOp = -1
  private var nextOp = 0
  // epoch-ms ↔ nanoTime anchor, for listener timestamps
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()

  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L
  def nsToMs(ns: Long): Long = anchorMs + (ns - anchorNs) / 1000000L

  /** Run `f` as one traced op whose root span is `name` in `layer`. */
  def op[A](name: String, layer: String)(f: => A): (A, Int) = {
    require(curOp < 0, "traced ops do not nest")
    curOp = nextOp
    nextOp += 1
    val id = curOp
    try (span(name, layer)(f), id) finally curOp = -1
  }

  def span[A](name: String, layer: String)(f: => A): A = {
    require(curOp >= 0, s"span $name outside a traced op")
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, parent, curOp, name, layer, t0, t1)
    }
  }

  /** id of the traced op in progress (-1 outside one) */
  def currentOp: Int = curOp

  /** add a span measured from outside the call structure (a build phase) */
  def addSpan(op: Int, parent: Int, name: String, layer: String, start: Long, end: Long): Unit = {
    spans += Span(nextId, parent, op, name, layer, start, math.max(start, end))
    nextId += 1
  }

  def opSpans(op: Int): Seq[Span] = spans.filter(_.op == op).toVector
  def root(op: Int): Span = spans.find(s => s.op == op && s.parent == -1).get

  /** Attach Spark job intervals to the innermost span they started in.
    * Overlapping jobs under one parent merge into one interval, so a
    * parent's children never overlap and self-times add up exactly. */
  def addJobs(op: Int, jobs: Seq[(Long, Long)]): Unit = {
    val mine = opSpans(op)
    val byParent = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    jobs.foreach { case (s0, e0) =>
      val s = msToNs(s0)
      val e = msToNs(e0)
      val host = mine.filter(p => p.start <= s && s <= p.end)
        .sortBy(p => p.dur).headOption
        .orElse(mine.find(_.parent == -1)).get
      val cs = math.max(s, host.start)
      val ce = math.min(math.max(e, cs), host.end)
      // a job may not cover one of the host's own bench-timed children
      byParent.getOrElseUpdate(host.id, mutable.ArrayBuffer.empty) += ((cs, ce))
    }
    byParent.foreach { case (pid, ivs) =>
      val children = mine.filter(_.parent == pid).map(c => (c.start, c.end))
      merge(ivs.toSeq).foreach { case (s, e) =>
        // cut around bench spans that sit under the same parent
        subtract((s, e), children).foreach { case (a, b) =>
          if (b > a) {
            spans += Span(nextId, pid, op, "spark.job", "spark", a, b)
            nextId += 1
          }
        }
      }
    }
  }

  private def merge(ivs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    ivs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  private def subtract(iv: (Long, Long), cut: Seq[(Long, Long)]): Seq[(Long, Long)] =
    cut.sortBy(_._1).foldLeft(List(iv)) { (acc, c) =>
      acc.flatMap { case (s, e) =>
        if (c._2 <= s || c._1 >= e) List((s, e))
        else List((s, c._1), (c._2, e)).filter { case (a, b) => b > a }
      }
    }

  /** self time of every span (duration minus its children), summed per
    * layer, in ms. The values add up to the root span's duration. */
  def layerSelfMs(op: Int): Map[String, Double] = {
    val mine = opSpans(op)
    val kids = mine.groupBy(_.parent)
    mine.map { s =>
      val childNs = merge(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
        .map { case (a, b) => b - a }.sum
      s.layer -> (s.dur - childNs) / 1e6
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }

  def durMs(op: Int): Double = root(op).dur / 1e6

  /** spans as JSON lines, times in ms since the first span */
  def jsonLines: Seq[String] = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    spans.sortBy(s => (s.op, s.start, s.id)).map { s =>
      Json.obj(Seq(
        "op" -> Json.num(s.op), "id" -> Json.num(s.id),
        "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num((s.start - t0) / 1e6),
        "end_ms" -> Json.num((s.end - t0) / 1e6)))
    }.toVector
  }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
