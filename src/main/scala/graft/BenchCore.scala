package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.fixtures.CorpusGen
import graft.pipeline.Extract

/** Shared benchmark kernel used by BOTH the orchestrating [[Bench]] main
  * and the per-level child JVM ([[graft.tools.BenchLevel]]): session
  * construction, the replicated flagship workload, and the two
  * same-moment host calibrations (register-only burn, no-Spark
  * extraction kernel). */
private[graft] object BenchCore {

  final class MetricsListener extends SparkListener {
    val memSpilled = new LongAdder
    val diskSpilled = new LongAdder
    val shuffleRead = new LongAdder
    val shuffleWrite = new LongAdder
    val gcTime = new LongAdder
    val taskTime = new LongAdder
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        memSpilled.add(m.memoryBytesSpilled)
        diskSpilled.add(m.diskBytesSpilled)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        gcTime.add(m.jvmGCTime)
      }
      if (e.taskInfo != null) taskTime.add(e.taskInfo.duration)
    }
  }

  def newSession(cores: Int): (SparkSession, MetricsListener) = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val l = new MetricsListener
    spark.sparkContext.addSparkListener(l)
    (spark, l)
  }

  /** Materialize the synthetic corpus once per sf dir (measured runs then
    * time extraction, not corpus synthesis). The PRE-SPLIT layout —
    * bounded part rows so mega-doc scans parallelize — with n_spans as
    * the pushdown split key; shared with q_extract_presplit. */
  def corpusPath(spark: SparkSession, sfDir: String): String =
    CorpusGen.materializedPreSplit(spark, sfDir)

  /** Replication factor for the timed run (doc_ids remapped to keep
    * stitch groups distinct): makes the measured region long enough
    * (tens of seconds) that fixed DAG/stage costs (~2-3s) stop
    * dominating the N-vs-4N comparison. */
  val Replicas = 96

  /** Replication factor for the SCALING reps. Smaller than [[Replicas]]
    * on purpose: the host refills its burst bucket only while idle and a
    * wide-level run drains it DURING the measurement (round-4 rehearsal
    * 3: with 96 replicas the 16-wide level never produced one clean
    * observation in 2 h — every rep outlived the bucket it started
    * with). 32 replicas keep the wide-level rep ~8-12 s — long enough
    * that fixed DAG/stage cost stays a few percent (measured via a
    * single-level 96-vs-32 replica intercept), short enough that the
    * rep ends in the same host state it started in. */
  val ScaleReplicas = 32

  /** Warm-up: the REPLICATED plan at reduced scale — warming with the
    * plain 1x corpus leaves the replicated plan's codegen/JIT cold and
    * the first timed pair measured ~4x slow. */
  def warm(spark: SparkSession, corpus: String, replicas: Int = Replicas): Unit = {
    timedReplicated(spark, corpus, math.max(4, replicas / 8)); ()
  }

  /** One timed flagship run over the replicated corpus; returns wall
    * seconds. The host VM's CPU allocation is bursty (observed 5x swings
    * on a pure hash loop), so callers take the MIN of several runs. */
  def timedReplicated(spark: SparkSession, corpus: String, replicas: Int): Double = {
    import org.apache.spark.sql.functions.{col, concat, explode, lit, sequence}
    val base = spark.read.parquet(corpus)
    // single-scan replication (a many-branch union would add ~seconds of
    // SERIAL driver planning per run — pure Amdahl loss in the N-vs-4N
    // comparison); schema-generic so it carries the pre-split part_idx
    val big = base
      .withColumn("r", explode(sequence(lit(0), lit(replicas - 1))))
      .withColumn("doc_id", concat(col("doc_id"), lit("#"), col("r")))
      .drop("r")
    val t0 = System.nanoTime()
    Extract.run(big).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Distinct docs in the corpus x replicas (base rows are PARTS). */
  def docCount(spark: SparkSession, corpus: String,
               replicas: Int = Replicas): Long =
    spark.read.parquet(corpus).select("doc_id").distinct().count() * replicas

  /** CPU-capacity calibration: a fixed splitmix64 burn on `threads`
    * JVM threads, returning wall seconds. Run IMMEDIATELY before and
    * after each timed extraction at the same thread count, it measures
    * what the bursty host actually delivers at that moment — reported
    * raw in the JSON so throttle state is visible per measurement. */
  def burnSec(threads: Int): Double = {
    val perThread = 60_000_000L // ~60M splitmix rounds per thread
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var h = 0x9E3779B97F4A7C15L + t
        var i = 0L
        while (i < perThread) {
          h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
          h ^= h >>> 27; h *= 0x94D049BB133111EBL
          i += 1
        }
        if (h == 42L) println("") // defeat dead-code elimination
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed extraction-kernel workload for the second calibration: the
    * real SpanExtract over a synthesized span mix, on plain JVM threads
    * (no Spark). 20k DISTINCT items (~60+ MB with rendered hOCR),
    * single pass — the working set must exceed L3 so the calibration is
    * DRAM-bound like the real extraction path (a cache-resident loop
    * overstates the ceiling; sampling profile: allocation rate, not CPU, is
    * the scaling limiter). The 4->16 kernel ratio is the scaling
    * CEILING any plan doing this work in one JVM can reach. */
  lazy val kernelWork: Array[(String, String, String)] =
    (0 until 20000).toArray.map { i =>
      val h = graft.layout.MediaOcr.hash64(s"k:$i")
      (i % 3) match {
        case 0 => ("html", s"<html><body><nav><a href='/'>x</a></nav><div><p>some long paragraph of text number $i with enough words to pass the threshold easily and then some more filler so the densest block wins $h.</p></div></body></html>", "")
        case 1 =>
          val ocr = graft.layout.MediaOcr.classify(f"pdf://k/$i")
          val page = graft.layout.Assembly.createHocrPage(ocr.page, new graft.layout.RuneIndex(ocr.text), 1)
          ("pdf_layout", graft.hocr.HocrRender.render(graft.layout.Assembly.createHocrDocument(None, Vector(page))), "")
        case _ => ("media", "", f"img://$h%016x")
      }
    }

  def kernelSec(threads: Int): Double = {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(threads)
    val t0 = System.nanoTime()
    val tasks = (0 until threads).map { t =>
      new Callable[Long] {
        def call(): Long = {
          var acc = 0L
          var i = t
          while (i < kernelWork.length) {
            val (k, x, m) = kernelWork(i)
            acc += graft.pipeline.SpanExtract.extractSpanText(k, x, m).length
            i += threads
          }
          acc
        }
      }
    }
    pool.invokeAll(scala.jdk.CollectionConverters.SeqHasAsJava(tasks).asJava)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    (System.nanoTime() - t0) / 1e9
  }

  /** Burn-clean threshold: the register-only burn measures 0.22-0.27 s
    * per level on an unthrottled window (a hardware constant,
    * independent of thread count because 16 threads still fit the ~20
    * effective cores) and 1.1 s+ once burst credits deplete. 0.40 s
    * separates the two populations with margin in both directions. */
  val BurnClean = 0.40

  /** Allocation-side cleanliness threshold for the kernel calibration,
    * per thread count. Healthy floors on this host: ~0.19-0.31 s at 4
    * threads, ~0.08-0.22 s at 16 (round-3/4 runs); under the
    * progressive MEMORY throttle the same probe reads 2-11 s while the
    * register-only burn stays at its 0.22-0.27 s floor (round-4 smoke:
    * gcfrac 0.44-0.73, kernel up to 11.1 s, every burn clean) — the two
    * populations never overlap, so a generous 2-3x-floor threshold
    * separates them with margin. Low-thread floors (1/2 threads) are
    * proportionally higher because the same fixed work divides across
    * fewer threads (ideal 1-thread ~1.9 s, 2-thread ~0.95 s). */
  def kernelCleanThreshold(cores: Int): Double =
    if (cores >= 16) 0.35 else if (cores >= 8) 0.45
    else if (cores >= 4) 0.60 else if (cores >= 2) 1.6 else 3.2

  /** GC-task-fraction cleanliness threshold per thread count (ParallelGC,
    * fixed heap). The collector's stop-the-world share of task time rises
    * with task-thread count because collections pause ALL task threads
    * while GC workers (sized to ActiveProcessorCount) do fixed work:
    * measured clean floors ~0.25-0.33 at 4 threads, 0.34-0.46 at 16
    * (round-4 rehearsal 3 — where the 0.25 gate at 16 threads was
    * unreachable and burned every retry). Thresholds sit above each
    * level's healthy band but below the throttled population (0.6+). */
  def gcCleanThreshold(cores: Int): Double =
    if (cores >= 16) 0.50 else if (cores >= 8) 0.40
    else if (cores >= 4) 0.35 else 0.30

  /** Bounded wait for an unthrottled window: the register-only burn
    * must sit at the hardware floor AND the allocation-heavy kernel
    * must sit at its floor (the hypervisor throttles CPU and memory
    * bandwidth INDEPENDENTLY — round 3 saw burn-visible depletion with
    * healthy kernels, round 4 the reverse). Returns
    * (lastBurn, lastKernel, msUsed). */
  def waitForCleanWindow(cores: Int, budgetMs: Long): (Double, Double, Long) = {
    var b = burnSec(cores)
    var k = kernelSec(cores)
    var used = 0L
    while ((b > BurnClean || k > kernelCleanThreshold(cores)) && used < budgetMs) {
      val nap = math.min(45000L, budgetMs - used)
      Thread.sleep(nap)
      used += nap
      b = burnSec(cores)
      k = kernelSec(cores)
    }
    (b, k, used)
  }
}
