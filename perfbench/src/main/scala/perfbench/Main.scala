package perfbench

/** Command line: `--workload <build|select_rare|select_common|churn>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir>`, or `--self-test`
  * to run only the correctness gate's own test.
  *
  * Prints a human-readable report on stderr and, as the last line of
  * stdout, one JSON object {correct, attempted, failed, metrics}. Exit
  * code 0 only when every checked answer matched the oracle. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String)

  val Workloads = Seq("build", "select_rare", "select_common", "churn")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Args(w, need("seed").toLong, need("seconds").toInt, trace == "1", need("work"))
  }

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--self-test")) {
      val failures = Gate.selfTest()
      failures.foreach(f => System.err.println(s"[perfbench] $f"))
      System.err.println(s"[perfbench] gate self-test: ${if (failures.isEmpty) "ok" else "FAILED"}")
      sys.exit(if (failures.isEmpty) 0 else 1)
    }
    val code =
      try {
        val run = new Run(parse(argv))
        try run.execute() finally run.close()
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    System.out.flush()
    System.err.flush()
    sys.exit(code)
  }
}
