package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.{CacheRegistry, GraftSession}
import org.apache.spark.graftbench.EngineBridge
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one process, Spark on local[cores].
  *
  *   --workload etl_push|curate_dedup  --seed n  --seconds s
  *   --trace 0|1  --cores n  --out dir
  *
  * Set-up is timed from JVM start: session bring-up, then input
  * generation, repeated `InputSets` times (its median counts). Two untimed
  * warm-up passes follow, then closed-loop timed passes until `seconds`
  * have passed (at least four). With --trace 1 two traced passes follow;
  * they give the per-layer metrics, and the spans go to `out`.
  * The last line of stdout is the JSON result; every metric is also
  * printed above it with its unit. Exits 1 when an output check failed. */
object Main {
  val WarmPasses = 2
  // Pass times still fall for several passes after the warm-up. With a
  // pass count set only by `seconds`, a run slowed by a busy machine fits
  // fewer passes, so its median sits earlier on that slope.
  val MinPasses = 4
  val TracedPasses = 2
  val InputSets = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "batch_s" -> "s", "ok_share" -> "ratio")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.ingest_s" -> "s", "sources.decoded_ratio" -> "ratio", "sources.input_bytes" -> "B",
    "functions.area_s" -> "s", "functions.area_rows_per_s" -> "1/s",
    "etl.plan_s" -> "s", "etl.assemble_s" -> "s",
    "sinks.push_s" -> "s", "sinks.post_ms_p50" -> "ms", "sinks.post_ms_p99" -> "ms",
    "sinks.push_streams" -> "count", "sinks.posts" -> "count", "sinks.retries" -> "count",
    "sinks.acked_ratio" -> "ratio", "sinks.first_push_s" -> "s",
    "operators.curate_s" -> "s", "operators.quality_s" -> "s", "operators.ctlangid_s" -> "s",
    "operators.minhash_s" -> "s", "operators.setjoin_s" -> "s",
    "operators.plan_s" -> "s", "operators.eager_jobs" -> "count", "operators.dup_recall" -> "ratio",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.idle_s" -> "s", "engine.cpu_s" -> "s", "engine.run_s" -> "s",
    "engine.cpu_util" -> "ratio", "engine.shuffle_write_bytes" -> "B",
    "engine.shuffle_read_bytes" -> "B", "engine.fetch_wait_s" -> "s", "engine.spill_bytes" -> "B",
    "engine.gc_s" -> "s", "engine.codegen_compiles" -> "count", "engine.codegen_s" -> "s",
    "engine.failed_tasks" -> "count", "engine.peak_rss_mb" -> "MB",
    "trace.batch_s" -> "s", "trace.overhead_ratio" -> "ratio", "trace.unaccounted_s" -> "s")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def session(cores: Int): SparkSession = {
    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cores]").appName("graftbench"), cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def cleanUp(spark: SparkSession): Unit = {
    CacheRegistry.drain()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(args)
      catch { case e: Throwable =>
        System.err.println("graftbench: aborted")
        e.printStackTrace()
        1
      }
    System.out.flush()
    sys.exit(code)
  }

  private def run(args: Array[String]): Int = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    if (!Workload.Names.contains(workload) || !opts.contains("seed")) {
      System.err.println(s"usage: --workload ${Workload.Names.mkString("|")} --seed n " +
        "--seconds s --trace 0|1 --cores n --out dir")
      return 2
    }
    val seed = opts("seed").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val out = new File(opts.getOrElse("out", "graftbench/out"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tmp = new File(System.getProperty("java.io.tmpdir"))

    val errors = mutable.ArrayBuffer.empty[String]

    // Set-up, timed from JVM start: session bring-up once, then input
    // generation InputSets times into fresh directories; the median
    // generation counts and the last set is kept. The warm-up passes are
    // not part of it: they run the timed pass's own code, and their JIT
    // and compile times are the noisiest part of a run.
    val spark = session(cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    var wl: Workload = null
    val inputS = (1 to InputSets).map { k =>
      if (wl != null) { wl.close(); Workload.deleteTree(new File(tmp, s"in${k - 1}")) }
      Workload.time { wl = Workload(workload, spark, new File(tmp, s"in$k"), seed, cores) }
    }
    val setupS = sessionS + median(inputS)
    val w0 = System.currentTimeMillis()
    (1 to WarmPasses).foreach { k =>
      val warm = wl.pass(-k, new Tracer(spark, enabled = false))
      errors ++= warm.errors.map("warm-up: " + _)
      if (warm.failed > 0) errors += s"warm-up: ${warm.failed} operations failed"
      cleanUp(spark)
    }
    System.err.println(s"graftbench: setup: session $sessionS s, inputs " +
      inputS.map(x => f"$x%.3f").mkString("/") + " s; warm-up " +
      s"${(System.currentTimeMillis() - w0) / 1e3} s")

    val untraced = new Tracer(spark, enabled = false)
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val m0 = System.nanoTime()
    var n = 1
    while (passes.size < MinPasses || (System.nanoTime() - m0) / 1e9 < seconds) {
      passes += wl.pass(n, untraced)
      System.err.println(f"graftbench: pass $n: ${passes.last.seconds}%.3f s")
      cleanUp(spark)
      n += 1
    }
    val complete = passes.filter(_.complete).toSeq
    passes.foreach(p => errors ++= p.errors)
    val attempted = passes.map(_.attempted).sum
    val failed = passes.map(_.failed).sum
    val batchS = median(complete.map(_.seconds))

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    if (!trace) {
      metrics("setup_s") = setupS
      metrics("batch_s") = batchS
      metrics("ok_share") = (attempted - failed).toDouble / attempted
    } else {
      Probe.register(spark)
      val tr = new Tracer(spark, enabled = true)
      val (compiles0, _) = EngineBridge.codegen()
      val traced = (1 to TracedPasses).map { k =>
        val id = 1000 + k
        tr.pass = id
        val w0 = System.currentTimeMillis()
        val p = wl.pass(id, tr)
        val w1 = System.currentTimeMillis()
        EngineBridge.drainListeners(spark.sparkContext)
        cleanUp(spark)
        errors ++= p.errors
        (id, p, w0, w1)
      }
      val (compiles1, compileMeanMs) = EngineBridge.codegen()
      val tracedBatch = Workload.mean(traced.map(_._2.seconds))
      val eng = traced.map(t => (Probe.engine.total(s"${t._1}/"),
        Probe.engine.idleMs(t._3, t._4) / 1e3))
      def per(f: GroupCounters => Double): Double = Workload.mean(eng.map(e => f(e._1)))
      val cpuS = per(_.cpuNs.sum / 1e9)
      val layers = wl.layers(tr, traced.map(t => (t._1, t._2)), Probe.engine)
      val checkS = Workload.mean(traced.map(t => tr.selfSeconds(t._1).getOrElse("bench.check", 0.0)))
      metrics ++= PerLayer.map(_._1 -> 0.0)
      metrics ++= Seq(
        "sources.input_bytes" -> per(_.inputBytes.sum.toDouble),
        "engine.jobs" -> per(_.jobs.sum.toDouble),
        "engine.stages" -> per(_.stages.sum.toDouble),
        "engine.tasks" -> per(_.tasks.sum.toDouble),
        "engine.idle_s" -> Workload.mean(eng.map(_._2)),
        "engine.cpu_s" -> cpuS,
        "engine.run_s" -> per(_.runMs.sum / 1e3),
        "engine.cpu_util" -> cpuS / (tracedBatch * cores),
        "engine.shuffle_write_bytes" -> per(_.shuffleWrite.sum.toDouble),
        "engine.shuffle_read_bytes" -> per(_.shuffleRead.sum.toDouble),
        "engine.fetch_wait_s" -> per(_.fetchWaitMs.sum / 1e3),
        "engine.spill_bytes" -> per(_.spill.sum.toDouble),
        "engine.gc_s" -> per(_.gcMs.sum / 1e3),
        "engine.codegen_compiles" -> (compiles1 - compiles0).toDouble / TracedPasses,
        // an estimate: Spark keeps a sample of compile times, not their sum
        "engine.codegen_s" -> (compiles1 - compiles0) * compileMeanMs / 1e3 / TracedPasses,
        "engine.failed_tasks" -> per(_.failedTasks.sum.toDouble),
        "engine.peak_rss_mb" -> peakRssMb(),
        "trace.batch_s" -> tracedBatch,
        "trace.overhead_ratio" -> tracedBatch / batchS,
        "trace.unaccounted_s" -> (tracedBatch - wl.selfTimes.map(layers).sum - checkS))
      metrics ++= layers
      tr.writeJson(new File(out, s"trace-$workload-seed$seed.jsonl"),
        Probe.engine.groups.filter { case (g, _) => traced.exists(t => g.startsWith(s"${t._1}/")) })
    }
    wl.close()
    cleanUp(spark)
    spark.stop()

    val correct = errors.isEmpty && complete.nonEmpty
    errors.distinct.take(20).foreach(e => System.err.println(s"graftbench: check failed: $e"))
    val units = (EndToEnd ++ PerLayer).toMap
    val samples = s"${complete.size} timed passes of ${passes.size}"
    println(s"graftbench $workload seed=$seed trace=${if (trace) 1 else 0} cores=$cores: $samples")
    metrics.foreach { case (k, v) => println(f"  $k%-30s $v%16.6f ${units(k)}") }
    val json = metrics.map { case (k, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k":{"value":$x,"unit":"${units(k)}"}"""
    }.mkString(",")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$json}}""")
    if (correct) 0 else 1
  }
}
