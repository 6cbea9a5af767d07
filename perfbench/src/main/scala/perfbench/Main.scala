package perfbench

import java.io.{File, PrintWriter}
import org.apache.spark.sql.SparkSession

/** Entry point:
  * `Main --workload search|churn --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * Prints one `metric <name> <value> <unit>` line per figure, the failing
  * entries, an `env` line, and as its last line the result object
  * `{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. A traced run also
  * writes its spans and per-layer self times under the work directory.
  */
object Main {

  val workloads: Map[String, Run => Unit] =
    Map("search" -> Workloads.search, "churn" -> Workloads.churn)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload $w (${workloads.keys.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, not $trace")
    Opts(w, kv.get("seed").map(_.toLong).getOrElse(QueryLog.DefaultSeed),
      need("seconds").toInt, trace == "1", new File(need("work")))
  }

  def session(nproc: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def jsonValue(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s""""$k":${jsonValue(x)}""" }.mkString("{", ",", "}")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => num(d)
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    opts.work.mkdirs()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = session(nproc, opts.work)
    val r = try {
      val r = new Run(spark, opts)
      r.env ++= Seq("workload" -> opts.workload, "seed" -> opts.seed,
        "seconds" -> opts.seconds, "trace" -> (if (opts.trace) 1 else 0),
        "nproc" -> nproc, "master" -> spark.sparkContext.master,
        "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
      workloads(opts.workload)(r)
      r
    } finally spark.stop()

    val failed = r.failedOps.size
    val frac = if (r.attempted > 0) failed.toDouble / r.attempted else 1.0
    val shown = r.e2e ++ r.extra :+ Metric("op_failure_frac", frac, "ratio")
    (shown ++ r.layer).foreach(m => println(s"metric ${m.name} ${num(m.value)} ${m.unit}"))
    r.failures.foreach(f => println(s"failed $f"))
    println("env " + jsonValue(r.env))

    val tag = s"${opts.workload}-seed${opts.seed}"
    if (opts.trace) {
      val spans = new PrintWriter(new File(opts.work, s"spans-$tag.jsonl"))
      try r.spans.foreach(s => spans.println(Trace.spanJson(s))) finally spans.close()
      val self = new PrintWriter(new File(opts.work, s"self-ms-$tag.json"))
      try self.println(jsonValue(r.selfMs.toSeq.sortBy(-_._2).toMap)) finally self.close()
      println(s"spans ${r.spans.size} written to ${new File(opts.work, s"spans-$tag.jsonl")}")
    }
    val metrics = (if (opts.trace) r.layer else r.e2e).map { m =>
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":${r.attempted},"failed":$failed,"metrics":$metrics}""")
  }
}
