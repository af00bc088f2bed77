package perfbench

/** JVM entry point: `perfbench.Main <workload> <inDir> <outDir> <seconds>
  * <trace 0|1>`. Writes `<outDir>/result.json` for `run.py` to check and
  * print; a crash is recorded there as a failed operation. */
object Main {
  /** Self-check mode: each check plants one wrong expected value. */
  val plant: Boolean = sys.env.get("PERFBENCH_PLANT").contains("1")

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1")
    val res = new Result
    val code =
      try {
        a.workload match {
          case "monitor_loop" => MonitorLoop.run(a, res)
          case "api_edge" => ApiEdge.run(a, res)
          case "query_suite" => QuerySuite.run(a, res)
        }
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          res.mismatch(s"crash: $t")
          1
      } finally res.write(s"${a.out}/result.json")
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    // the scheduler and HTTP pools are stopped; exit also ends any
    // thread a crashed workload left behind
    System.exit(code)
  }
}
