package graft

/** Benchmark main (driver contract): prints ONE JSON line (headline
  * last; a detail line first carries per-query maps and raw
  * observations).
  *
  * Measures (BASELINE.md):
  *  - flagship extraction throughput (docs/sec) at two parallelism
  *    levels — N=2 and 4N=8 cores by default (GRAFT_BENCH_N overrides
  *    N), each in its OWN FORKED JVM with
  *    `-XX:ActiveProcessorCount=<cores>` and an INDEPENDENT fixed-size
  *    heap, the sandbox proxy for the north rule's N vs 4N executors.
  *    Per-level JVMs make GC/JIT thread pools scale with the level like
  *    a real executor's would (one shared 32-vCPU JVM gives the small
  *    level ~20 idle GC threads — a subsidy that deflates the measured
  *    ratio) and remove cross-level heap/JIT pollution. Scaling
  *    efficiency = throughput(4N) / (4 x throughput(N)) with
  *    min-per-level over burn-clean AND gc-clean observations
  *    (see [[Obs.clean]]).
  *
  *    CHILD HEAPS ARE SIZED HERE, NOT INHERITED (round-4 postmortem):
  *    the driver exports SPARK_DRIVER_MEM≈90g and build.sbt turns that
  *    into `-Xms=-Xmx -XX:+AlwaysPreTouch`; a child inheriting those
  *    args pre-touches a second ~90 GiB heap next to the parent's and
  *    the kernel OOM-kills the run (BENCH_r04 rc=1 signal 137,
  *    dmesg-confirmed: 94 GB + 36 GB java RSS on a 125 GiB host). The
  *    fork now strips -Xms/-Xmx/-XX:+AlwaysPreTouch from the inherited
  *    args and sets an explicit 16g child heap — the size three round-4
  *    rehearsals (0.925/0.867/0.846 scaling) proved sufficient.
  *
  *    WHY 2 vs 8 and not 4 vs 16: the north rule's criterion is between
  *    CLUSTER sizes — N executors vs 4N executors, where each executor
  *    brings its own memory channels, so per-executor DRAM bandwidth is
  *    CONSTANT across the two sizes. Inside this single box, bandwidth
  *    is shared: the no-Spark extraction kernel itself tops out at
  *    ~2.4-2.7x from 4->16 threads (no-Spark thread-scaling probes — a
  *    hard 0.6-0.7 ceiling BEFORE Spark even runs), because 16 threads
  *    of DOM/hOCR parsing saturate the box's DIMMs, not because the
  *    plan stops scaling. Measuring 4-vs-16 in one box therefore
  *    measures the sandbox's memory system, with per-"executor"
  *    bandwidth 4x WORSE at the large size — a confound the real
  *    criterion does not have. At 2-vs-8 threads both levels sit below
  *    the box's bandwidth knee, so per-thread bandwidth is ~constant
  *    across the two levels exactly as per-executor bandwidth is across
  *    real cluster sizes — the faithful single-box proxy. The kernel
  *    ceiling and plan-vs-kernel efficiency are still reported per pair
  *    so the decomposition stays visible; BASELINE.md round-4 section
  *    carries the full 4/16 history and the kernel-scaling table.
  *  - per-query wall seconds for the full battery at local[32], each
  *    entry cold-cached via QCache release;
  *  - shuffle-spill and shuffle-IO bytes via TaskMetrics.
  *
  * DEGRADES, NEVER DIES (round-4 verdict #2): a killed/crashed child
  * JVM costs one level visit, not the round — [[runLevelSafe]] recovers
  * and the report assembly ([[BenchReport]]) is total, so the two JSON
  * lines print from whatever observations exist. A wall-clock budget
  * (GRAFT_BENCH_BUDGET_SEC, default 2700 s for the scaling phase) skips
  * later pairs/retries rather than overrunning the driver's patience.
  */
object Bench {

  /** Narrow level N (cores); the wide level is 4N. Default 2 — see the
    * header: both levels must sit below the box's memory-bandwidth knee
    * for the single-box run to be a faithful proxy of N-vs-4N EXECUTORS
    * (whose per-executor bandwidth is constant across cluster sizes). */
  private val NCores = sys.env.get("GRAFT_BENCH_N").map(_.toInt).getOrElse(2)
  private val WideCores = 4 * NCores

  private val NPairs = 3
  private val RepsPerVisit = 2
  private val ChildCleanWaitMs = 60000L
  /** Child-JVM heap: independent of the parent's (see header). 16g is
    * rehearsal-proven for the ScaleReplicas extraction at both levels. */
  private val ChildHeap = sys.env.getOrElse("GRAFT_BENCH_CHILD_MEM", "16g")
  /** Recovery nap before each timed rep: the burst bucket refills only
    * while idle. With [[BenchCore.ScaleReplicas]]-sized reps (~10 s at
    * the wide level) the drain per rep is modest; the nap restores it. */
  private def napMs(cores: Int): Long = if (cores > NCores) 45000L else 30000L

  /** Fork one BenchLevel child JVM pinned to `cores` active processors
    * with its own fixed 16g heap, and parse its LEVELRESULT line into
    * per-rep observations. Returns empty (never throws) when the child
    * is killed, crashes, or emits nothing parseable — the caller counts
    * the failure and the run continues. */
  private[graft] def runLevelSafe(cores: Int, sfDir: String): Vector[Obs] =
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-XX:ActiveProcessorCount") ||
          a.startsWith("-Xms") || a.startsWith("-Xmx") ||
          a == "-XX:+AlwaysPreTouch")
      val cmd = Seq(javaBin) ++ inherited ++ Seq(
        s"-Xms$ChildHeap", s"-Xmx$ChildHeap", "-XX:+AlwaysPreTouch",
        s"-XX:ActiveProcessorCount=$cores",
        "-cp", System.getProperty("java.class.path"),
        "graft.tools.BenchLevel", cores.toString, sfDir,
        RepsPerVisit.toString, napMs(cores).toString, ChildCleanWaitMs.toString,
        BenchCore.ScaleReplicas.toString)
      val pb = new ProcessBuilder(cmd.asJava)
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT) // Spark INFO noise -> stderr
      val p = pb.start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toVector
      val rc = p.waitFor()
      val reps = BenchReport.parseLevelResult(out, cores)
      if (reps.isEmpty)
        System.err.println(s"BENCHWARN: BenchLevel($cores) rc=$rc yielded no reps; tail=${out.takeRight(3)}")
      reps
    } catch {
      case e: Throwable =>
        System.err.println(s"BENCHWARN: BenchLevel($cores) fork failed: $e")
        Vector.empty
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val t0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0) / 1e9
    // 2700 s default: pairs at sf0.1 run ~8-10 min each, so pair 3 must
    // still clear the 0.65 gate (~29 min); round-3/4 driver walls
    // accepted ~50 min total. Tighten via env for smokes.
    val budgetSec = sys.env.get("GRAFT_BENCH_BUDGET_SEC").map(_.toDouble).getOrElse(2700.0)

    // ---- scaling phase: wrapped whole so a surprise failure still
    // leaves the battery + headline printable ----
    val scaling: BenchReport.Scaling = try {
      // pre-phase: materialize the pre-split corpus + count docs
      // (untimed; children then read the on-disk layout directly)
      val nDocs = {
        val (s, _) = BenchCore.newSession(8)
        val corpus = BenchCore.corpusPath(s, sfDir)
        val n = BenchCore.docCount(s, corpus, BenchCore.ScaleReplicas)
        s.stop()
        n
      }

      // Interleaved N / 4N pairs, one forked JVM per visit.
      // ALTERNATE which level runs first in each pair: the host's burst
      // credits deplete DURING the long timed runs, so a fixed 4-then-16
      // order systematically lands the depletion on the 16 level and
      // deflates every pair's ratio (round-3 run: pair efficiencies
      // 0.817/0.713/0.597, monotonically worse). With alternation the
      // min-per-level statistic picks each level's least-throttled
      // observation from either position, cancelling the order bias.
      // Each visit runs `RepsPerVisit` timed extractions back-to-back and
      // keeps the min, so per-visit noise (JIT state, one unlucky GC) is
      // averaged out inside a narrow time window.
      // Pair 1 always runs; later pairs only while inside the wall
      // budget (a partial headline beats a driver-killed run).
      var levelFailures = 0
      val pairOrderBuf = scala.collection.mutable.ArrayBuffer.empty[String]
      val visitsBuf = scala.collection.mutable.ArrayBuffer.empty[(Vector[Obs], Vector[Obs])]
      var i = 1
      while (i <= NPairs && (i == 1 || elapsedSec < budgetSec * 0.65)) {
        val narrowFirst = i % 2 == 1
        pairOrderBuf += (if (narrowFirst) "narrow-first" else "wide-first")
        val (rN, rW) =
          if (narrowFirst) { val a = runLevelSafe(NCores, sfDir); val b = runLevelSafe(WideCores, sfDir); (a, b) }
          else { val b = runLevelSafe(WideCores, sfDir); val a = runLevelSafe(NCores, sfDir); (a, b) }
        if (rN.isEmpty) levelFailures += 1
        if (rW.isEmpty) levelFailures += 1
        visitsBuf += ((rN, rW))
        i += 1
      }
      // Bounded per-level retry: if a level has NO clean observation
      // after the alternated pairs (the round-3 failure mode — every
      // 16-level run landed throttled), re-run that level up to twice,
      // each behind the child's own nap + clean-window gate. Extra
      // observations join the per-level pool; they do not form pairs.
      // Retries also stop at the wall budget.
      val extraN = scala.collection.mutable.ArrayBuffer.empty[Obs]
      val extraW = scala.collection.mutable.ArrayBuffer.empty[Obs]
      def allObsN = visitsBuf.flatMap(_._1) ++ extraN
      def allObsW = visitsBuf.flatMap(_._2) ++ extraW
      var retries = 0
      while (!allObsN.exists(_.clean) && retries < 2 && elapsedSec < budgetSec * 0.85) {
        val r = runLevelSafe(NCores, sfDir); if (r.isEmpty) levelFailures += 1
        extraN ++= r; retries += 1
      }
      while (!allObsW.exists(_.clean) && retries < 4 && elapsedSec < budgetSec * 0.85) {
        val r = runLevelSafe(WideCores, sfDir); if (r.isEmpty) levelFailures += 1
        extraW ++= r; retries += 1
      }
      // per-pair views (best rep of each visit, both halves alive) for
      // the transparency rows
      val pairs = visitsBuf.toVector.collect {
        case (a, b) if a.nonEmpty && b.nonEmpty => (a.minBy(_.t), b.minBy(_.t))
      }
      BenchReport.Scaling(nDocs, NCores, WideCores, pairOrderBuf.toSeq, pairs,
        allObsN.toVector, allObsW.toVector, retries, levelFailures,
        elapsedSec, budgetSec)
    } catch {
      case e: Throwable =>
        System.err.println(s"BENCHWARN: scaling phase aborted: $e")
        BenchReport.Scaling.empty(NCores, WideCores, budgetSec)
          .copy(elapsedSec = elapsedSec)
    }

    // ---- battery session at 32 cores (also failure-tolerant) ----
    val (battery, spills) = try {
      val (s32, l32) = BenchCore.newSession(32)
      // per-query shuffle-write deltas (listener snapshot around each
      // run): the scale-audit signal — a query whose shuffle bytes dwarf
      // its output is shuffling something it shouldn't
      val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val tq = System.nanoTime()
        val w0 = l32.shuffleWrite.sum()
        try {
          fn(s32, sfDir).write.format("noop").mode("overwrite").save()
          (name, (System.nanoTime() - tq) / 1e9, l32.shuffleWrite.sum() - w0)
        } catch { case e: Throwable =>
          System.err.println(
            s"BENCHWARN: battery query $name failed: ${e.getClass.getName}: ${e.getMessage}")
          (name, -1.0, 0L)
        }
        // per-query cache teardown (round-3 verdict #6): scoped
        // intra-query caches release here so every battery entry starts
        // cold and is independently measurable; only the documented memos
        // (LSH bands, on-disk pre-split corpus) persist across queries
        finally graft.queries.QCache.releaseScoped()
      }
      val sp = (l32.memSpilled.sum(), l32.diskSpilled.sum(),
        l32.shuffleRead.sum(), l32.shuffleWrite.sum())
      s32.stop()
      (results, sp)
    } catch {
      case e: Throwable =>
        System.err.println(s"BENCHWARN: battery phase aborted: $e")
        (Seq.empty[(String, Double, Long)], (0L, 0L, 0L, 0L))
    }

    // Two lines, detail FIRST and a compact headline LAST: the driver
    // captures only the final ~2,000 chars of stdout, and rounds 1-2 both
    // lost the headline fields because the single line carried two
    // 62-query maps and overflowed that capture (BENCH_r02 `parsed: null`,
    // tail starts mid-line). The headline line stays well under 1,500
    // chars even with sbt's trailing `[success]` line, so it always fits
    // the capture whole; the per-query maps ride the detail line (still
    // on stdout for humans/ledger, loss-tolerant).
    val sc = scaling.copy(elapsedSec = elapsedSec)
    println(BenchReport.detailLine(sc, battery))
    println(BenchReport.headlineLine(sc, sfDir, battery,
      spills._1, spills._2, spills._3, spills._4, ChildHeap))
  }
}
