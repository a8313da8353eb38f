package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
    tile: String, tables: String, refDir: String, scratch: String,
    fingerprints: String, result: String, traceOut: String, dump: String, prepare: Boolean,
    warmup: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def g(k: String, d: String = "") = m.getOrElse(k, d)
    Args(g("workload"), g("seed", "0").toLong, g("seconds", "10").toDouble, g("trace", "0") == "1",
      g("cores", "4").toInt, g("tile"), g("tables"), g("ref"), g("scratch"),
      g("fingerprints"), g("result"), g("trace-out"), g("dump"), g("prepare", "0") == "1",
      g("warmup"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** The result line: outputs checked, units attempted and failed, metrics. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  var trace: String = ""
  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def attempt(n: Long, bad: Long): Unit = { attempted += n; failed += bad }
  def json: String = {
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":${ms.mkString("{", ",", "}")}}"""
  }
}

/** Benchmark entry point: one workload, one process, one result file. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val res = new Result
    val conversion = args.workload.startsWith("convert-")

    // set-up: session start plus warm-up, three times (the first in a cold
    // JVM); the last session is the one measured
    var spark: SparkSession = null
    val setups = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.core.GraftSession.local(args.cores, args.cores)
      spark.range(1000000).selectExpr("sum(id)").collect()
      if (conversion) {
        // a warm-up conversion of a small fixture with the workload's settings
        val out = s"${args.scratch}/warmup"
        graft.plans.ImarisToZarr.convertAll(spark, Seq(args.warmup), out, _ => Convert.settings(args.workload))
        Fs.delete(Paths.get(out))
      } else spark.read.parquet(s"${args.tables}/documents.parquet").selectExpr("sum(length(text))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    log(s"set-up done: ${setups.map(t => f"$t%.2f").mkString(" ")} s")
    val probe = new SparkProbe(spark)
    try {
      if (args.dump.nonEmpty) new Queries(spark, args).dump()
      else if (args.prepare) {
        val c = new Convert(spark, args)
        res.attempt(c.shardCount, c.ensureReference())
      } else if (conversion) {
        val c = new Convert(spark, args)
        if (args.trace) c.runTraced(probe, res) else c.run(res)
      } else {
        val q = new Queries(spark, args)
        if (args.trace) q.runTraced(probe, res) else q.run(res)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.failed += 1
        res.attempted = math.max(res.attempted, res.failed)
    } finally {
      probe.close()
      spark.stop()
    }
    log("workload done")
    if (!args.trace) res.metric("setup_s", Stats.median(setups), "s")
    else {
      res.metric("process.peak_rss_MB", peakRssMb, "MB")
      if (res.trace.nonEmpty && args.traceOut.nonEmpty) Files.writeString(Paths.get(args.traceOut), res.trace)
    }
    Files.writeString(Paths.get(args.result), res.json + "\n")
  }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
