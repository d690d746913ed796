package graftbench

import java.lang.management.ManagementFactory

import graft.hocr.{HocrParse, HocrRender, HocrText}
import graft.html.{Boilerplate, HtmlDom}
import graft.layout.{Assembly, MediaOcr, RuneIndex}
import graft.pipeline.SpanExtract

/** A span as the kernels see it: (kind, text, media_ref). */
final case class KSpan(kind: String, text: String, mediaRef: String)

/** Timing calls into the kernel layers' public functions from outside:
  * `graft.html`, `graft.hocr`, `graft.layout` and the `graft.pipeline`
  * span kernel, on a workload's own spans, with the JIT warm. */
object Kernels {

  private val threadBean = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threadBean.getThreadAllocatedBytes(Thread.currentThread().getId)

  // keeps results alive past dead-code elimination; identity hashes, so
  // consuming a result never walks it
  @volatile private var sink = 0L

  /** (ns per call, allocated bytes per call): median of `reps` timed
    * passes over `xs` after one warm pass, recorded as one span per pass. */
  private def time[A](tracer: Tracer, parent: Long, name: String, xs: Seq[A], reps: Int)(f: A => Any): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      xs.foreach(x => sink += System.identityHashCode(f(x)))
      val runs = (0 until reps).map { _ =>
        tracer.span(name, parent) { _ =>
          val a0 = allocated()
          val t0 = System.nanoTime()
          xs.foreach(x => sink += System.identityHashCode(f(x)))
          ((System.nanoTime() - t0).toDouble / xs.size, (allocated() - a0).toDouble / xs.size)
        }
      }
      (TraceMath.median(runs.map(_._1)), TraceMath.median(runs.map(_._2)))
    }

  /** The span kernel over `xs`, `rounds` times, on `threads` plain
    * threads; wall seconds. */
  def kernelSec(xs: IndexedSeq[KSpan], threads: Int, rounds: Int = 1): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var acc = 0L
        var r = 0
        while (r < rounds) {
          var i = t
          while (i < xs.size) {
            val s = xs(i)
            acc += SpanExtract.extractSpanText(s.kind, s.text, s.mediaRef).length
            i += threads
          }
          r += 1
        }
        sink += acc
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** The host-state probe's span set: 20,000 distinct spans, html,
    * pdf_layout and media in turn, built the way the repository's own
    * bench calibration builds its kernel work. With the rendered hOCR it
    * is tens of MB, beyond the last-level cache, so the probe is
    * memory-bound like the extraction path and shows a memory-bandwidth
    * throttle the register-only burn does not. */
  def probeWork(): IndexedSeq[KSpan] =
    Gen.parallel(20000, 4) { i =>
      val h = MediaOcr.hash64(s"k:$i")
      i % 3 match {
        case 0 => KSpan("html", s"<html><body><nav><a href='/'>x</a></nav><div><p>some long paragraph of text " +
          s"number $i with enough words to pass the threshold easily and then some more filler so the densest " +
          s"block wins $h.</p></div></body></html>", "")
        case 1 =>
          val ocr = MediaOcr.classify(f"pdf://k/$i")
          val page = Assembly.createHocrPage(ocr.page, new RuneIndex(ocr.text), 1)
          KSpan("pdf_layout", HocrRender.render(Assembly.createHocrDocument(None, Vector(page))), "")
        case _ => KSpan("media", "", f"img://$h%016x")
      }
    }

  /** Register-only burn on `threads` threads (no allocation, no memory
    * traffic): wall seconds. Together with [[kernelSec]] it shows whether
    * the host throttled CPU or memory bandwidth around a run. */
  def burnSec(threads: Int, rounds: Long = 20000000L): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var h = 0x9E3779B97F4A7C15L + t
        var i = 0L
        while (i < rounds) {
          h ^= h >>> 30; h *= 0xBF58476D1CE4E5B9L
          h ^= h >>> 27; h *= 0x94D049BB133111EBL
          i += 1
        }
        sink += h
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-layer metrics over a sample of the workload's spans. A layer
    * with no spans of its kind in the workload reports 0. */
  def layerMetrics(tracer: Tracer, parent: Long, spans: Seq[KSpan], reps: Int = 3): Map[String, Double] = {
    val html = spans.filter(_.kind == "html").map(_.text)
    val hocr = spans.filter(_.kind == "pdf_layout").map(_.text)
    val media = spans.filter(_.kind == "media").map(_.mediaRef)
    val parsed = hocr.flatMap(h => HocrParse.parseHocrString(h).toOption)
    val classified = media.map(MediaOcr.classify)
    def frac(n: Int, d: Int) = if (d == 0) 0.0 else n.toDouble / d

    val (htmlParse, _) = time(tracer, parent, "kernel.html.parse", html, reps)(HtmlDom.parse)
    val (htmlExtract, htmlAlloc) = time(tracer, parent, "kernel.html.extract", html, reps)(Boilerplate.extractMainText)
    val (hocrParse, hocrAlloc) = time(tracer, parent, "kernel.hocr.parse", hocr, reps)(HocrParse.parseHocrString)
    val (hocrText, _) = time(tracer, parent, "kernel.hocr.text", parsed, reps)(HocrText.extractText)
    val (classify, classifyAlloc) = time(tracer, parent, "kernel.layout.classify", media, reps)(MediaOcr.classify)
    val (assemble, assembleAlloc) = time(tracer, parent, "kernel.layout.assemble", classified, reps)(
      (r: MediaOcr.OcrResult) => Assembly.createHocrPage(r.page, new RuneIndex(r.text), 1))
    def spanNs(kind: String) =
      time(tracer, parent, s"kernel.span.$kind", spans.filter(_.kind == kind), reps)(
        (s: KSpan) => SpanExtract.extractSpanText(s.kind, s.text, s.mediaRef))._1

    val work = spans.filter(s => Set("html", "pdf_layout", "media")(s.kind)).toIndexedSeq
    val ratio =
      if (work.isEmpty) 0.0
      else {
        // enough rounds that one thread runs for about half a second
        val rounds = math.max(1, math.ceil(0.5 / kernelSec(work, 1)).toInt)
        kernelSec(work, 4, rounds)
        val one = TraceMath.median((0 until reps).map(_ =>
          tracer.span("kernel.span.1thread", parent)(_ => kernelSec(work, 1, rounds))))
        val four = TraceMath.median((0 until reps).map(_ =>
          tracer.span("kernel.span.4threads", parent)(_ => kernelSec(work, 4, rounds))))
        one / (4 * four)
      }
    Map(
      "html.parse_ns" -> htmlParse,
      "html.extract_ns" -> htmlExtract,
      "html.alloc_b" -> htmlAlloc,
      "html.empty_frac" -> frac(html.count(h => Boilerplate.extractMainText(h).isEmpty), html.size),
      "hocr.parse_ns" -> hocrParse,
      "hocr.text_ns" -> hocrText,
      "hocr.alloc_b" -> hocrAlloc,
      "hocr.parse_fail_frac" -> frac(hocr.size - parsed.size, hocr.size),
      "layout.classify_ns" -> classify,
      "layout.assemble_ns" -> assemble,
      "layout.alloc_b" -> (classifyAlloc + assembleAlloc),
      "span.extract_ns.html" -> spanNs("html"),
      "span.extract_ns.pdf_layout" -> spanNs("pdf_layout"),
      "span.extract_ns.media" -> spanNs("media"),
      "span.kernel_1v4" -> ratio)
  }
}
