package perfbench

import java.nio.file.{Files, Paths}

/** `perfbench.Main --workload <serve|refresh> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --root <checkout>`: runs one workload and
  * writes its record to `<work>/result.json`. Exit code 0 when every
  * op was attempted and answered correctly, 1 otherwise.
  */
object Main {
  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(workload = need("workload"), seed = need("seed").toLong,
      seconds = need("seconds").toDouble, trace = need("trace") == "1",
      work = Paths.get(need("work")).toAbsolutePath, root = Paths.get(need("root")).toAbsolutePath)
  }

  private def metrics(m: collection.Map[String, (Double, String)]): String =
    Json.obj(m.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

  def record(a: Args, res: Result, error: Option[String]): String = {
    val correct = error.isEmpty && res.failed == 0 && res.attempted > 0
    Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "correct" -> correct.toString,
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "metrics" -> metrics(if (a.trace) res.layers else res.e2e),
      "detail" -> metrics(res.detail),
      "context" -> Json.obj(res.context.toSeq),
      "failures" -> Json.arr((error.toSeq ++ res.failures).map(Json.str))))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    Files.createDirectories(a.work)
    val res = new Result
    val error =
      try { Workloads.run(a, res); None }
      catch { case t: Throwable => t.printStackTrace(); Some(Loop.reason(t)) }
    Files.write(a.work.resolve("result.json"), record(a, res, error).getBytes("UTF-8"))
    System.exit(if (error.isEmpty && res.failed == 0) 0 else 1)
  }
}
