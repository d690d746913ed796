package graft.hocr

import scala.collection.mutable.ArrayBuffer

import graft.html.HtmlDom
import graft.html.HtmlDom.{ElementNode, Node, TextNode}
import graft.model.BBox
import graft.text.GoStrings

/** hOCR parsing — mirrors /root/reference/pkg/hocr/parse.go. */
object HocrParse {

  /** ParseHOCR (parse.go:13-83). Returns Left(error message) when no
    * ocr_page elements are found. */
  def parseHocr(data: Array[Byte]): Either[String, Hocr] = {
    val decoded = GoStrings.decodeWithSniff(data)
    parseHocrString(decoded)
  }

  def parseHocrString(decoded: String): Either[String, Hocr] = {
    val dom = HtmlDom.parse(decoded)
    var result = extractDocumentMeta(dom)
    val pages = ArrayBuffer.empty[HPage]
    // findPages (parse.go:55-77): recursive, early-return per page subtree.
    def findPages(n: Node): Unit = {
      if (n.nodeType == ElementNode && n.data == "div" &&
          n.attr("class").contains("ocr_page")) {
        pages += processPage(n)
      } else n.children.foreach(findPages)
    }
    findPages(dom)
    result = result.copy(pages = pages.toVector)
    if (result.pages.isEmpty) Left("no ocr_page elements found in HOCR data")
    else Right(result)
  }

  /** ParseTitle (parse.go:87-105): split on ';', TrimSpace, Fields;
    * first token = key, rest = values. Later duplicate keys overwrite. */
  def parseTitle(title: String): Map[String, Seq[String]] = {
    var result = Map.empty[String, Seq[String]]
    var from = 0
    while (from <= title.length) {
      val semi = title.indexOf(';', from)
      val end = if (semi < 0) title.length else semi
      val part = GoStrings.trimSpace(title.substring(from, end))
      if (part.nonEmpty) {
        val items = GoStrings.fields(part)
        if (items.nonEmpty)
          result = result.updated(items(0), scala.collection.immutable.ArraySeq.unsafeWrapArray(items).drop(1))
      }
      from = end + 1
    }
    result
  }

  /** ParseBoundingBoxFromTitle (parse.go:109-120); unparseable floats -> 0. */
  def parseBBoxFromTitle(title: String): Option[BBox] =
    bboxFromProps(parseTitle(title))

  /** bbox from an already-parsed title map (the reference parses every
    * title TWICE — once for the bbox, once for the props; we parse once,
    * observable output identical). */
  def bboxFromProps(props: Map[String, Seq[String]]): Option[BBox] =
    props.get("bbox") match {
      case Some(bbox) if bbox.length >= 4 =>
        Some(BBox(
          GoStrings.parseFloatOrZero(bbox(0)), GoStrings.parseFloatOrZero(bbox(1)),
          GoStrings.parseFloatOrZero(bbox(2)), GoStrings.parseFloatOrZero(bbox(3))))
      case _ => None
    }

  /** extractDocumentMeta (parse.go:123-193). */
  private def extractDocumentMeta(doc: Node): Hocr = {
    var title = ""
    var description = ""
    var language = ""
    var metadata = Map.empty[String, String]

    // findHTMLLang (parse.go:138-155): top-level html element's lang/xml:lang.
    doc.children.foreach { c =>
      if (c.nodeType == ElementNode && c.data == "html") {
        val it = c.attrs.iterator
        var found = false
        while (it.hasNext && !found) {
          val (k, v) = it.next()
          if (k == "lang" || k == "xml:lang") { language = v; found = true }
        }
      }
    }

    // findHead (parse.go:124-135): first head element, DFS.
    def findHead(n: Node): Option[Node] =
      if (n.nodeType == ElementNode && n.data == "head") Some(n)
      else n.children.iterator.map(findHead).collectFirst { case Some(h) => h }

    findHead(doc).foreach { head =>
      head.children.foreach { c =>
        if (c.nodeType == ElementNode) c.data match {
          case "title" =>
            c.children.headOption.foreach { fc =>
              if (fc.nodeType == TextNode) title = fc.data
            }
          case "meta" =>
            var name = ""
            var content = ""
            c.attrs.foreach { case (k, v) =>
              if (k == "name") name = v else if (k == "content") content = v
            }
            if (name.nonEmpty && content.nonEmpty) {
              if (name == "ocr-system" || name == "ocr-capabilities" ||
                  name == "ocr-number-of-pages" || name == "ocr-langs")
                metadata = metadata.updated(name, content)
              else if (name == "description") description = content
              else if (name == "dc.language") language = content
            }
          case _ =>
        }
      }
    }
    Hocr(title = title, description = description, language = language, metadata = metadata)
  }

  /** Child collection with descent stopping at the first matching class
    * (parse.go:231-249 pattern). Buckets are filled in the order classes
    * are tested; each matched subtree is not descended further. */
  private def collectByClass(parent: Node, buckets: Seq[(String, ArrayBuffer[Node])]): Unit = {
    val bucketArr = buckets.toArray
    def walk(node: Node): Unit = {
      if (node.nodeType == ElementNode) {
        val cls = node.attr("class")
        if (cls.nonEmpty) {
          var bi = 0
          while (bi < bucketArr.length) {
            if (cls.contains(bucketArr(bi)._1)) { bucketArr(bi)._2 += node; return }
            bi += 1
          }
        }
      }
      node.children.foreach(walk)
    }
    parent.children.foreach(walk)
  }

  /** processPage (parse.go:196-280).
    *
    * This walk (and the area/para/line/word ones below) accumulates
    * into locals and constructs each case class ONCE: the previous
    * copy-per-attribute style allocated 4-6 intermediate instances per
    * node, and allocation rate is the extraction path's measured
    * scaling limiter (CLAUDE.md). Field-for-field the same
    * result, including attr-order overwrite semantics. */
  def processPage(n: Node): HPage = {
    var id = ""; var lang = ""; var title = ""
    var pageNumber = 0; var imageName = ""
    var bbox = BBox.zero
    n.attrs.foreach { case (k, v) =>
      k match {
        case "id"   => id = v
        case "lang" => lang = v
        case "title" =>
          title = v
          val props = parseTitle(v)
          bboxFromProps(props).foreach(b => bbox = b)
          props.get("image").foreach(img => if (img.nonEmpty) imageName = img.head)
          props.get("ppageno").foreach(pp =>
            if (pp.nonEmpty) pageNumber = GoStrings.atoiOrZero(pp.head))
        case _ =>
      }
    }
    val areaNodes = ArrayBuffer.empty[Node]
    val paraNodes = ArrayBuffer.empty[Node]
    val lineNodes = ArrayBuffer.empty[Node]
    collectByClass(n, Seq("ocr_carea" -> areaNodes, "ocr_par" -> paraNodes, "ocr_line" -> lineNodes))
    HPage(id = id, title = title, pageNumber = pageNumber, imageName = imageName,
      lang = lang, bbox = bbox,
      areas = areaNodes.map(processArea).toVector,
      paragraphs = paraNodes.map(processParagraph).toVector,
      lines = lineNodes.map(processLine).toVector)
  }

  /** processArea (parse.go:283-364): non-bbox title props -> metadata,
    * values joined with " ". */
  def processArea(n: Node): HArea = {
    var id = ""; var lang = ""
    var bbox = BBox.zero
    var metadata = Map.empty[String, String]
    n.attrs.foreach { case (k, v) =>
      k match {
        case "id"   => id = v
        case "lang" => lang = v
        case "title" =>
          val props = parseTitle(v)
          bboxFromProps(props).foreach(b => bbox = b)
          metadata = props.collect { case (pk, pv) if pk != "bbox" => pk -> pv.mkString(" ") }
        case _ =>
      }
    }
    val paraNodes = ArrayBuffer.empty[Node]
    val lineNodes = ArrayBuffer.empty[Node]
    val wordNodes = ArrayBuffer.empty[Node]
    collectByClass(n, Seq("ocr_par" -> paraNodes, "ocr_line" -> lineNodes, "ocrx_word" -> wordNodes))
    HArea(id = id, lang = lang, bbox = bbox,
      paragraphs = paraNodes.map(processParagraph).toVector,
      lines = lineNodes.map(processLine).toVector,
      words = wordNodes.map(processWord).toVector,
      metadata = metadata)
  }

  /** processParagraph (parse.go:367-436). */
  def processParagraph(n: Node): HPara = {
    var id = ""; var lang = ""
    var bbox = BBox.zero
    var metadata = Map.empty[String, String]
    n.attrs.foreach { case (k, v) =>
      k match {
        case "id"   => id = v
        case "lang" => lang = v
        case "title" =>
          val props = parseTitle(v)
          bboxFromProps(props).foreach(b => bbox = b)
          metadata = props.collect { case (pk, pv) if pk != "bbox" => pk -> pv.mkString(" ") }
        case _ =>
      }
    }
    val lineNodes = ArrayBuffer.empty[Node]
    val wordNodes = ArrayBuffer.empty[Node]
    collectByClass(n, Seq("ocr_line" -> lineNodes, "ocrx_word" -> wordNodes))
    HPara(id = id, lang = lang, bbox = bbox,
      lines = lineNodes.map(processLine).toVector,
      words = wordNodes.map(processWord).toVector,
      metadata = metadata)
  }

  /** processLine (parse.go:439-495): words found by full recursion with
    * early stop only at ocrx_word nodes. */
  def processLine(n: Node): HLine = {
    var id = ""; var lang = ""; var baseline = ""
    var bbox = BBox.zero
    var metadata = Map.empty[String, String]
    n.attrs.foreach { case (k, v) =>
      k match {
        case "id"   => id = v
        case "lang" => lang = v
        case "title" =>
          val props = parseTitle(v)
          bboxFromProps(props).foreach(b => bbox = b)
          props.get("baseline").foreach(b => baseline = b.mkString(" "))
          metadata = props.collect { case (pk, pv) if pk != "bbox" && pk != "baseline" => pk -> pv.mkString(" ") }
        case _ =>
      }
    }
    val words = ArrayBuffer.empty[HWord]
    def extractWords(node: Node): Unit = {
      if (node.nodeType == ElementNode && node.attr("class").contains("ocrx_word")) {
        words += processWord(node)
      } else node.children.foreach(extractWords)
    }
    n.children.foreach(extractWords)
    HLine(id = id, lang = lang, bbox = bbox, baseline = baseline,
      words = words.toVector, metadata = metadata)
  }

  /** processWord (parse.go:498-539): title lang overrides attr lang;
    * text only when the node has children. */
  def processWord(n: Node): HWord = {
    var id = ""; var lang = ""
    var bbox = BBox.zero
    var confidence = 0.0
    var metadata = Map.empty[String, String]
    n.attrs.foreach { case (k, v) =>
      k match {
        case "id"   => id = v
        case "lang" => lang = v
        case "title" =>
          val props = parseTitle(v)
          bboxFromProps(props).foreach(b => bbox = b)
          props.get("x_wconf").foreach(c =>
            if (c.nonEmpty) confidence = GoStrings.parseFloatOrZero(c.head))
          props.get("lang").foreach(l => if (l.nonEmpty) lang = l.head)
          metadata = props.collect {
            case (pk, pv) if pk != "bbox" && pk != "x_wconf" && pk != "lang" => pk -> pv.mkString(" ")
          }
        case _ =>
      }
    }
    val text = if (n.children.nonEmpty) extractTextContent(n) else ""
    HWord(id = id, text = text, bbox = bbox, confidence = confidence,
      lang = lang, metadata = metadata)
  }

  /** extractTextContent (parse.go:542-552): DFS concat of text nodes with
    * TrimSpace at every level (inner trims, then outer trims the concat —
    * inter-element spaces are dropped). Single-text-child fast path (the
    * overwhelmingly common word shape): trim(trim(x)) == trim(x), so the
    * builder is skipped. */
  def extractTextContent(n: Node): String = {
    if (n.nodeType == TextNode) return GoStrings.trimSpace(n.data)
    if (n.children.length == 1) return GoStrings.trimSpace(extractTextContent(n.children(0)))
    val sb = new java.lang.StringBuilder
    n.children.foreach(c => sb.append(extractTextContent(c)))
    GoStrings.trimSpace(sb.toString)
  }
}
