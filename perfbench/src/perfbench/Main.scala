package perfbench

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run; `perfbench/run.py` starts it in a fresh
  * JVM. Writes the run's result object as JSON to `--out`. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, out: String, data: String, expected: String,
      traces: String)

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("out"), need("data"), need("expected"),
      need("traces"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val tmp = sys.props("java.io.tmpdir")
    val builder = SparkSession.builder()
    if (o.trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = builder
      .master("local[4]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
      .getOrCreate()
    System.err.println(f"perfbench: session up after ${
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")
    // exit explicitly either way: thread pools the program leaves behind
    // must not keep the JVM alive
    val code =
      try {
        val result = try new Workload(spark, o).run() finally spark.stop()
        val w = new java.io.PrintWriter(o.out, "UTF-8")
        try w.print(result) finally w.close()
        0
      } catch {
        case t: Throwable => t.printStackTrace(); 1
      }
    System.err.println(f"perfbench: done after ${
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")
    sys.exit(code)
  }
}
