package graftbench

import graft.fixtures.CorpusGen
import graft.model.{Doc, Span}

/** Seeded input generators, one per workload. The same seed always gives
  * the same input; the amount of work (documents, mega-doc sizes) is
  * fixed per workload so that runs on different seeds stay comparable,
  * while content, kinds and placement come from the seed. */
object Gen {

  /** splitmix64, the generator the program itself uses for synthesis. */
  final class Rng(seed: Long) {
    private var state = seed * 0x2545F4914F6CDD1DL + 0x9E3779B97F4A7C15L
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    /** uniform in [0, n) */
    def int(n: Int): Int = Math.floorMod(next(), n.toLong).toInt
    def between(lo: Int, hi: Int): Int = lo + int(hi - lo + 1)
  }

  /** The word list of the repository's `documents` tables. */
  val Vocab: Array[String] =
    ("spark window merge table column vector stream value data small join filter " +
      "big group hash customer sort order slow line part fast row the agg key " +
      "query a scan batch").split(' ')

  def words(rng: Rng, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(rng.int(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** A multiple of 251 far from every other seed's range: CorpusGen makes
    * every doc whose id is a multiple of 251 a mega-doc, so each seed's
    * corpus has exactly `n / 251` of them. */
  private def idBase(seed: Long): Long = (1L + Math.floorMod(seed, 1000003L)) * 251L * 4096L

  /** Flagship-style corpus: `CorpusGen.genDoc` documents (html, pdf_layout
    * and media spans in the ratio 4:3:3, 2-7 spans each, one doc in 251
    * a mega-doc of 256-511 spans) over seeded text. Generated on
    * `threads` plain threads: the hOCR rendering inside genDoc dominates. */
  def flagshipDocs(seed: Long, n: Int, threads: Int = 4): Vector[Doc] =
    parallel(n, threads)(flagshipDoc(seed, _))

  /** Doc `i` of [[flagshipDocs]], on its own. */
  def flagshipDoc(seed: Long, i: Int): Doc = {
    val rng = new Rng(seed * 1000003L + i)
    CorpusGen.genDoc(idBase(seed) + i, words(rng, rng.between(20, 100)))
  }

  /** Indices of the mega-docs among the first `n` of [[flagshipDocs]]. */
  def flagshipMegas(n: Int): Seq[Int] = 0 until n by 251

  /** Mega-doc sizes of the skew workload: fixed, so the straggler cost is
    * the same on every seed; the seed decides which doc ids carry them. */
  val MegaSizes: Vector[Int] = Vector(50000, 20000, 12000, 10000)

  /** Skew corpus in the single-row (doc_id, spans) layout: `small` docs of
    * 2-7 spans beside the [[MegaSizes]] mega-docs. Spans are mostly
    * pass-through `text` kind; about one in 32 is `media`. */
  def megadocDocs(seed: Long, small: Int): Vector[Doc] = {
    val rng = new Rng(seed ^ 0x5EEDL)
    val total = small + MegaSizes.size
    // seeded positions of the mega-docs among all docs
    val megaAt = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    MegaSizes.foreach { sz =>
      var p = rng.int(total)
      while (megaAt.contains(p)) p = rng.int(total)
      megaAt(p) = sz
    }
    (0 until total).toVector.map { i =>
      val r = new Rng(seed * 7919L + i)
      val nSpans = megaAt.getOrElse(i, r.between(2, 7))
      val spans = new Array[Span](nSpans)
      var offset = 0
      var j = 0
      while (j < nSpans) {
        val sp =
          if (r.int(32) == 0) Span("media", "", f"img://${r.next()}%016x", offset)
          else Span("text", words(r, r.between(4, 14)), "", offset)
        spans(j) = sp
        offset += 1 + sp.text.length
        j += 1
      }
      Doc(f"md_${seed}_$i%06d", spans.toVector)
    }
  }

  /** One row of the repository's `documents` table. */
  final case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  private val Langs = Array("en", "zh", "es", "fr", "de")

  /** A `documents` table shaped like the repository's sf0.1 table at
    * `n` = 5,000: 10-100 words over [[Vocab]], uniform; about 5% of the
    * docs are near-duplicates, another doc's text with " dup" appended
    * (so a few are exact copies of each other, and a near-duplicate of a
    * near-duplicate ends in "dup dup"); about 41% `en` and the rest
    * evenly `zh`, `es`, `fr`, `de`; source `src<doc_id % 20>`. Doc ids
    * are a seeded permutation, so a near-duplicate's id is as often
    * below its original's as above, and the rows come back in seeded
    * order. */
  def documents(seed: Long, n: Int): Vector[DocRow] = {
    val rng = new Rng(seed ^ 0xD0C5L)
    val texts = new Array[String](n)
    var i = 0
    while (i < n) {
      texts(i) =
        if (i > 0 && rng.int(100) < 5) texts(rng.int(i)) + " dup"
        else words(rng, rng.between(10, 100))
      i += 1
    }
    val ids = shuffle((0 until n).toVector, new Rng(seed ^ 0x1D5L))
    val rows = (0 until n).toVector.map { i =>
      val r = new Rng(seed * 31L + i)
      val lang = if (r.int(1000) < 265) "en" else Langs(r.int(Langs.length))
      val id = ids(i)
      DocRow(id.toLong, texts(i), lang, s"src${id % 20}", texts(i).length.toLong)
    }
    shuffle(rows, new Rng(seed ^ 0x0DE2L))
  }

  def shuffle[T](xs: Vector[T], rng: Rng): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rng.int(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** f(0 until n) on `threads` plain threads, results in index order. */
  def parallel[T](n: Int, threads: Int)(f: Int => T): Vector[T] = {
    val out = new Array[Any](n)
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var i = t
        while (i < n) { out(i) = f(i); i += threads }
      })
      th.start(); th
    }
    ts.foreach(_.join())
    out.toVector.asInstanceOf[Vector[T]]
  }
}
