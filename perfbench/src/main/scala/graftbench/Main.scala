package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in this JVM at `local[cores]`.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   [--cores <n>] [--scale-seconds <s>]
  *
  * Prints a report, then as its last stdout line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`. With `--level` it is
  * the single-core child of a scaling measurement instead: it times
  * passes over the input the parent already wrote and prints one
  * `LEVEL <docs/s>` line. */
object Main {

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean, work: String,
      cores: Int, scaleSeconds: Double, level: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val level = a.contains("--level")
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      Workloads.byName(need("workload")).getOrElse(sys.error(s"unknown workload ${m("workload")}")),
      m.getOrElse("seed", "0").toLong, need("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      need("work"), m.getOrElse("cores", "4").toInt, m.getOrElse("scale-seconds", "0").toDouble, level)
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      // the same plan at every core count: scaling_eff compares parallelism only
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      // bound the status store tightly enough that it is full before the
      // timed region, or the live heap grows with the pass count
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "8")
      .config("spark.ui.retainedStages", "16")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Old-generation occupancy after a full collection, in MB. The first
    * collection lets Spark's cleaner drop unreachable broadcasts and
    * shuffles; the second one counts what is still live after that. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1e6
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Register-only burn and plain-thread span kernel over `work`, both on
    * 4 threads. Both are first warmed on a slice of `work` for at least a
    * second and until the kernel's time has stopped falling, so the JIT
    * is warm whether or not the workload ran the kernels before. */
  private def hostProbe(work: IndexedSeq[KSpan]): (Double, Double) = {
    val slice = work.take(3000)
    val t0 = System.nanoTime()
    var best = Double.MaxValue
    var stale = 0
    while (secs(t0) < 8.0 && (secs(t0) < 1.0 || stale < 5)) {
      Kernels.burnSec(4, 2000000L)
      val k = Kernels.kernelSec(slice, 4)
      if (k < 0.97 * best) { best = k; stale = 0 } else stale += 1
    }
    (Kernels.burnSec(4), Kernels.kernelSec(work, 4))
  }

  final case class Timed(walls: Vector[Double], failed: Int, layer: Vector[Map[String, Double]],
      windows: Vector[(Long, Long, Long)], untraced: Vector[Double])

  /** Passes until `seconds` have gone by (at least `minPasses`). With a
    * tracer, every other pass runs with the listener detached, so the
    * traced and untraced walls of one run can be compared. */
  def timedPasses(spark: SparkSession, wl: Workload, work: String, seconds: Double, minPasses: Int,
      tracer: Option[(Tracer, StageListener, Long)]): Timed = {
    val walls = Vector.newBuilder[Double]
    val untraced = Vector.newBuilder[Double]
    val layer = Vector.newBuilder[Map[String, Double]]
    val windows = Vector.newBuilder[(Long, Long, Long)]
    var failed = 0
    var k = 0
    val t0 = System.nanoTime()
    while (k < wl.maxPasses && (k < minPasses || secs(t0) < seconds)) {
      wl.beforePass(work)
      val traced = tracer.isDefined && k % 2 == 0
      tracer.foreach { case (_, l, _) => if (traced) spark.sparkContext.addSparkListener(l) }
      val id = tracer.map(_._1.newId()).getOrElse(0L)
      val start = tracer.map(_._1.now()).getOrElse(0L)
      val p0 = System.nanoTime()
      try layer += wl.pass(spark, work)
      catch { case e: Exception => failed += 1; System.err.println(s"pass $k failed: $e") }
      val wall = secs(p0)
      val end = tracer.map(_._1.now()).getOrElse(0L)
      wl.afterPass(spark)
      tracer.foreach { case (t, l, run) =>
        if (traced) {
          l.awaitQuiet()
          spark.sparkContext.removeSparkListener(l)
          t.record(id, run, "pass", start, end)
          windows += ((id, start, end))
        } else untraced += wall
      }
      if (tracer.isEmpty || traced) walls += wall
      k += 1
    }
    Timed(walls.result(), failed, layer.result(), windows.result(), untraced.result())
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = a.workload
    Files.createDirectories(Paths.get(a.work))
    if (a.level) { level(a); return }

    val tracer = new Tracer(s"${wl.name}-${a.seed}-${System.currentTimeMillis()}")
    val runId = tracer.newId()
    val runStart = tracer.now()

    var t = System.nanoTime()
    val spark = session(a.cores, a.work)
    val sessionS = secs(t)

    t = System.nanoTime()
    val input: wl.In = tracer.span("generate", runId)(_ => wl.generate(a.seed))
    val genS = secs(t)
    // set-up, several times: the median is the reported set-up time
    var sizes = Sizes(0, 0)
    val setups = (0 until 3).map { _ =>
      val s0 = System.nanoTime()
      sizes = tracer.span("setup", runId)(_ => wl.setup(spark, input, a.work))
      secs(s0)
    }
    Files.writeString(Paths.get(s"${a.work}/sizes"), s"${sizes.docs} ${sizes.spans}\n")

    t = System.nanoTime()
    val warmPasses =
      tracer.span("warm", runId)(_ => timedPasses(spark, wl, a.work, wl.warmSeconds, wl.warmPasses, None).walls.size)
    val warmS = secs(t)

    // the probe set is dropped before the timed region so that it does
    // not count in heap_live_mb, and built again for the probe after it
    t = System.nanoTime()
    var probe = Kernels.probeWork()
    val (burn0, kernel0) = hostProbe(probe)
    probe = null
    var probeS = secs(t)
    val listener = new StageListener
    val timed = timedPasses(spark, wl, a.work, a.seconds, wl.minPasses,
      if (a.trace) Some((tracer, listener, runId)) else None)
    val wall = TraceMath.median(timed.walls)
    // the live set only grows across passes (memos, status store), so its
    // largest value is the one after the last pass
    t = System.nanoTime()
    val heapMb = liveHeapMb()
    val heapS = secs(t)
    t = System.nanoTime()
    val (burn1, kernel1) = hostProbe(Kernels.probeWork())
    probeS += secs(t)

    t = System.nanoTime()
    val check0 = tracer.span("check", runId)(_ => wl.check(spark, a.seed, a.work))
    val checkS = secs(t)
    val (extra, check) =
      if (!a.trace) (Map.empty[String, Double], check0)
      else {
        val (m, c) = tracer.span("traced_layers", runId)(_ => wl.traced(spark, a.seed, a.work))
        (m, check0 + c)
      }
    spark.stop()

    t = System.nanoTime()
    val level1 =
      if (a.scaleSeconds > 0) tracer.span("level1", runId)(_ => childLevel(a)) else 0.0
    val levelS = secs(t)
    val dps = sizes.docs / wall
    val scaling = if (level1 > 0) dps / (4 * level1) else 0.0

    val e2e = Map(
      "setup_s" -> TraceMath.median(setups),
      "wall_s" -> wall,
      "docs_per_s" -> dps,
      "spans_per_s" -> sizes.spans / wall,
      "heap_live_mb" -> heapMb)
    val host = Map(
      "host.burn_s_before" -> burn0, "host.burn_s_after" -> burn1,
      "host.kernel_s_before" -> kernel0, "host.kernel_s_after" -> kernel1,
      "setup.session_s" -> sessionS, "setup.gen_s" -> genS, "setup.warm_s" -> warmS, "level1.docs_per_s" -> level1,
      "scaling_eff" -> scaling)

    val metrics =
      if (!a.trace) e2e
      else {
        val kernels = tracer.span("kernels", runId)(k => Kernels.layerMetrics(tracer, k, wl.sample(a.seed)))
        val stages = StageStats.summarize(timed.windows.map(w => (w._2, w._3)), listener.stages, listener.tasks)
        StageStats.spans(tracer, timed.windows, listener.jobs, listener.stages)
        val layerKeys = timed.layer.flatMap(_.keys).distinct
        val perPass = layerKeys.map(k => k -> TraceMath.median(timed.layer.flatMap(_.get(k)))).toMap
        val overhead = if (timed.untraced.isEmpty) 0.0 else wall / TraceMath.median(timed.untraced) - 1
        val queries =
          if (wl == Dedup) Map("queries.shuffle_write_mb" -> stages("stage.exchange.write_mb")) else Map.empty
        val all = kernels ++ stages ++ perPass ++ extra ++ queries ++ host + ("trace.overhead_frac" -> overhead)
        tracer.record(runId, 0L, "run", runStart, tracer.now())
        tracer.writeJsonl(Paths.get(s"${a.work}/trace.jsonl"))
        printSelfTimes(tracer)
        Metrics.perLayer.map(m => m.name -> all.getOrElse(m.name, 0.0)).toMap
      }

    println(f"phases: session $sessionS%.1f s, generate $genS%.1f s, set-up ${setups.map(x => f"$x%.1f").mkString("/")} s, " +
      f"warm-up $warmS%.1f s ($warmPasses passes), check $checkS%.1f s, " +
      f"host probes $probeS%.1f s, live heap $heapS%.1f s, single-core level $levelS%.1f s, " +
      f"JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    println(f"host: burn ${burn0}%.3f -> ${burn1}%.3f s, kernel ${kernel0}%.3f -> ${kernel1}%.3f s")
    println(f"${wl.name}: ${sizes.docs} docs, ${sizes.spans} spans, ${timed.walls.size} timed passes, " +
      s"walls ${timed.walls.map(w => f"$w%.3f").mkString(" ")}")
    check.notes.foreach(n => println(s"CHECK FAILED: $n"))
    val names = if (a.trace) Metrics.perLayer.map(_.name) else Metrics.endToEnd.map(_.name)
    names.foreach(n => println(f"  $n%-32s ${metrics(n)}%14.6f ${Metrics.unitOf(n)}"))
    val attempted = timed.walls.size + timed.untraced.size + check.attempted
    val failed = timed.failed + check.failed
    val body = names.map(n => s""""$n": {"value": ${num(metrics(n))}, "unit": "${Metrics.unitOf(n)}"}""").mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  private def printSelfTimes(tracer: Tracer): Unit = {
    println(f"  ${"span"}%-28s ${"n"}%6s ${"total_s"}%10s ${"self_s"}%10s")
    TraceMath.byName(tracer.spans).foreach { case (n, c, tot, self) =>
      println(f"  $n%-28s $c%6d ${tot / 1e9}%10.3f ${self / 1e9}%10.3f")
    }
  }

  /** Runs the single-core level in its own JVM and returns its docs/s. */
  private def childLevel(a: Args): Double = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val inherited = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filterNot(f =>
      f.startsWith("-Xmx") || f.startsWith("-Xms") || f.startsWith("-XX:ActiveProcessorCount"))
    val cmd = Seq(java, "-XX:ActiveProcessorCount=1", "-Xmx1g", "-Xms1g") ++ inherited ++
      Seq("-cp", System.getProperty("java.class.path"), "graftbench.Main", "--level", "1",
        "--workload", a.workload.name, "--seed", a.seed.toString, "--seconds", a.scaleSeconds.toString,
        "--work", a.work, "--cores", "1")
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toVector
    if (p.waitFor() != 0) sys.error(s"single-core level exited with ${p.exitValue()}")
    out.collectFirst { case l if l.startsWith("LEVEL ") => l.drop(6).trim.toDouble }
      .getOrElse(sys.error("single-core level printed no result"))
  }

  private def level(a: Args): Unit = {
    val Array(docs, _) = Files.readString(Paths.get(s"${a.work}/sizes")).trim.split(' ').map(_.toLong)
    val spark = session(a.cores, a.work)
    // the parent's warm-up schedule, so both levels are timed equally warm
    timedPasses(spark, a.workload, a.work, a.workload.warmSeconds, a.workload.warmPasses, None)
    val timed = timedPasses(spark, a.workload, a.work, a.seconds, 2, None)
    spark.stop()
    if (timed.failed > 0) sys.exit(1)
    println(s"LEVEL ${docs / TraceMath.median(timed.walls)}")
  }
}
