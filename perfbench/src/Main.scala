package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Housekeeping}

/** JVM side of one benchmark run; `perfbench/run.py` drives it.
  *
  * Usage: Main --workload W --input DIR --out DIR --seconds S --trace 0|1
  *             --cores N
  *
  * 1. Set-up, three times: start a session and run one untimed pass over
  *    the measured input (a later set-up stops the previous session).
  *    The first set-up also pays the JVM's cold start; the later ones
  *    leave the JIT warm for the timed passes.
  *    A load probe runs after the first set-up.
  * 2. Passes over the measured input until S seconds have gone, then a
  *    second probe.
  *    With --trace 1 the passes alternate plain and traced, so both are
  *    measured under the same load and the difference is the tracing
  *    overhead.
  * 3. Writes results.json (set-ups, probes, passes), events.jsonl
  *    (listener events), spans.jsonl and the last pass's outputs under
  *    `check/` for the correctness check.
  */
object Main {
  private val Setups = 3
  private val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val wl = Workload(opt("workload"), opt("input"), out)

    var spark: SparkSession = null
    var probeBefore = 0.0
    val setups = (1 to Setups).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local("perfbench", cores)
      wl.warm(spark)
      Housekeeping.release(spark)
      val t = (System.nanoTime() - t0) / 1e9
      // outside every timed set-up and pass
      if (k == 1) probeBefore = probe(spark, cores)
      t
    }
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)

    val passes = Seq.newBuilder[String]
    val start = System.nanoTime()
    var i = 0
    while (i < MinPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      Housekeeping.release(spark)
      val tracedPass = traced && i % 2 == 1
      val t0 = rec.nowMs
      val jit0 = jitMs
      val r = rec.inGroup(s"p$i")(wl.pass(spark, rec, i, tracedPass))
      val t1 = rec.nowMs
      val jit = jitMs - jit0
      val fp = rec.inGroup(s"fingerprint$i")(wl.fingerprint(spark))
      passes += s"""{"pass":$i,"traced":$tracedPass,"start":$t0,"end":$t1,""" +
        s""""jit_ms":$jit,""" +
        s""""counts":${jsonMap(r.counts)},"fingerprint":"$fp"}"""
      i += 1
    }
    Housekeeping.release(spark)
    val probeAfter = probe(spark, cores)
    val ratios = if (traced) wl.ratios(spark) else Map.empty[String, Double]
    wl.exportForCheck(spark, s"$out/check")
    spark.stop() // drains the listener bus before the log is written

    Workload.writeText(s"$out/results.json",
      s"""{"setup_s":[${setups.mkString(",")}],"cores":$cores,""" +
        s""""probe_before_s":$probeBefore,"probe_after_s":$probeAfter,""" +
        s""""ratios":${jsonMap(ratios)},""" +
        s""""passes":[${passes.result().mkString(",")}]}""")
    Workload.writeText(s"$out/events.jsonl", lines(rec.eventLines))
    Workload.writeText(s"$out/spans.jsonl", lines(rec.spanLines))
  }

  /** Milliseconds the JIT compilers have spent so far. */
  private def jitMs: Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** A fixed CPU-bound job, the `graft.Bench` calibration expression at a
    * smaller size, best of two (the first also pays its code generation):
    * its time annotates the run with the machine's load. */
  private def probe(spark: SparkSession, cores: Int): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 10000000L, 1L, cores)
        .selectExpr("sum(sqrt(id * 1.0) * sin(id * 1.0)) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

  private def jsonMap(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")

  private def lines(xs: Seq[String]): String =
    xs.map(_ + "\n").mkString
}
