package graft.text

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets

/** Go string/number semantics re-implemented on the JVM.
  *
  * The reference engine (Go) and the JVM disagree on whitespace classes,
  * float formatting, and string indexing (runes vs UTF-16 chars). These
  * helpers pin the Go behavior so extracted span text is byte-identical.
  */
object GoStrings {

  /** Go unicode.IsSpace: \t \n \v \f \r ' ' U+0085 U+00A0 plus the
    * Unicode Z* categories. (Java's Character.isWhitespace differs on
    * U+00A0 and U+2007.) */
  def isSpace(c: Char): Boolean = {
    if (c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r' ||
        c == ' ' || c == 0x85 || c == 0xA0) true
    else {
      val t = Character.getType(c)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
      t == Character.PARAGRAPH_SEPARATOR
    }
  }

  /** Go strings.TrimSpace. */
  def trimSpace(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isSpace(s.charAt(i))) i += 1
    while (j > i && isSpace(s.charAt(j - 1))) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** Go strings.Fields: split around runs of whitespace, no empties.
    * Two-scan (count, then fill an exact-size array): this sits on the
    * extraction hot path where allocation rate is the 16-thread scaling
    * limiter (sampling profile), so no growable buffer, no copy. */
  def fields(s: String): Array[String] = {
    val n = s.length
    var count = 0
    var i = 0
    while (i < n) {
      while (i < n && isSpace(s.charAt(i))) i += 1
      if (i < n) {
        count += 1
        while (i < n && !isSpace(s.charAt(i))) i += 1
      }
    }
    if (count == 0) return Array.empty
    val out = new Array[String](count)
    var k = 0
    i = 0
    while (i < n) {
      while (i < n && isSpace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isSpace(s.charAt(i))) i += 1
      if (i > start) { out(k) = s.substring(start, i); k += 1 }
    }
    out
  }

  /** Go strings.TrimSuffix. */
  def trimSuffix(s: String, suf: String): String =
    if (s.endsWith(suf)) s.substring(0, s.length - suf.length) else s

  /** Go strconv.ParseFloat(s, 64) with the reference's `_ = err` pattern:
    * unparseable -> 0.0 (pkg/hocr/parse.go:112-115).
    *
    * Fast path: a pure-digit string of <= 15 chars (optionally '-') is a
    * long < 2^53, whose double conversion is EXACT — bit-identical to
    * Double.parseDouble — with zero allocation. Nearly every hOCR bbox
    * coordinate takes it (they are rendered as integers); anything else
    * (fractions, exponents, signs, junk) falls through to parseDouble,
    * because a hand-rolled decimal-fraction parse could diverge in the
    * last ulp (double rounding) and break byte parity. */
  def parseFloatOrZero(s: String): Double = {
    val n = s.length
    if (n > 0 && n <= 15) {
      var i = 0
      var neg = false
      if (s.charAt(0) == '-') { neg = true; i = 1 }
      if (i < n) {
        var allDigits = true
        var j = i
        while (allDigits && j < n) {
          val c = s.charAt(j)
          if (c >= '0' && c <= '9') j += 1 else allDigits = false
        }
        if (allDigits) {
          var v = 0L
          var k = i
          while (k < n) { v = v * 10 + (s.charAt(k) - '0'); k += 1 }
          return if (neg) -v.toDouble else v.toDouble
        }
      }
    }
    try java.lang.Double.parseDouble(s)
    catch { case _: NumberFormatException => 0.0 }
  }

  /** Go strconv.Atoi with `_ = err` -> 0 (pkg/hocr/parse.go:221). */
  def atoiOrZero(s: String): Int =
    try Integer.parseInt(s)
    catch { case _: NumberFormatException => 0 }

  /** Go fmt `%v` for float64 = strconv.FormatFloat(f,'g',-1,64):
    * shortest round-trip decimal; integral values print without ".0"
    * (e.g. 100.0 -> "100"); exponent form when exp < -4 or >= 21.
    * Used by the hOCR template for bbox coordinates
    * (pkg/hocr/templates/hocr.tmpl:25 etc.). */
  def goFloat(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d.isPosInfinity) return "+Inf"
    if (d.isNegInfinity) return "-Inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0" else "0"
    // Shortest round-trip digits via Java's Double.toString, then re-shape
    // into Go 'g' formatting. Double.toString is shortest-repr since JDK 19
    // and for the value ranges we emit (OCR coordinates/confidences) on 17.
    val jav = java.lang.Double.toString(Math.abs(d))
    val neg = d < 0
    // Decompose "digitsEdigits" or "digits.digits"
    var mant = jav
    var exp10 = 0
    val eIdx = jav.indexOf('E')
    if (eIdx >= 0) { mant = jav.substring(0, eIdx); exp10 = Integer.parseInt(jav.substring(eIdx + 1)) }
    val dot = mant.indexOf('.')
    val digitsRaw = (mant.substring(0, dot) + mant.substring(dot + 1))
    val pointPos = dot + exp10 // decimal point position within digitsRaw
    var digits = digitsRaw.dropWhile(_ == '0')
    val leadZeros = digitsRaw.length - digits.length
    val pp = pointPos - leadZeros
    digits = digits.reverse.dropWhile(_ == '0').reverse
    if (digits.isEmpty) return if (neg) "-0" else "0"
    val decExp = pp - 1 // exponent when written as d.ddd
    val sb = new StringBuilder
    if (neg) sb.append('-')
    if (decExp < -4 || decExp >= 21) {
      sb.append(digits.charAt(0))
      if (digits.length > 1) { sb.append('.'); sb.append(digits.substring(1)) }
      sb.append('e')
      sb.append(if (decExp >= 0) "+" else "-")
      val ae = Math.abs(decExp)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    } else if (decExp >= digits.length - 1) {
      sb.append(digits)
      var i = digits.length - 1
      while (i < decExp) { sb.append('0'); i += 1 }
    } else if (decExp >= 0) {
      sb.append(digits.substring(0, decExp + 1))
      sb.append('.')
      sb.append(digits.substring(decExp + 1))
    } else {
      sb.append("0.")
      var i = -1
      while (i > decExp) { sb.append('0'); i -= 1 }
      sb.append(digits)
    }
    sb.toString
  }

  /** Go fmt `%.0f`: correctly-rounded (round-half-even) zero-decimal form.
    * Java's String.format uses HALF_UP, so 98.5 would diverge.
    * Used for x_wconf in the hOCR template (hocr.tmpl:31). */
  def goF0(d: Double): String =
    new JBigDecimal(d).setScale(0, RoundingMode.HALF_EVEN).toPlainString

  /** Codepoint-safe slice: Go `string([]rune(s)[start:end])` with the
    * clamping of /root/reference/pkg/gdocai/text.go:26-38
    * (start<0 -> 0, end>len -> len, start>end -> start=end). */
  def runeSlice(s: String, start0: Int, end0: Int): String = {
    val total = s.codePointCount(0, s.length)
    var start = if (start0 < 0) 0 else start0
    var end = if (end0 > total) total else end0
    if (end < 0) end = 0
    if (start > end) start = end
    if (start == end) return ""
    val a = s.offsetByCodePoints(0, start)
    val b = s.offsetByCodePoints(a, end - start)
    s.substring(a, b)
  }

  /** Number of codepoints (Go len([]rune(s))). */
  def runeLen(s: String): Int = s.codePointCount(0, s.length)

  /** Drop the last rune if it is ' ' \n \r or \t — the DetectedBreak
    * single-char trim of /root/reference/pkg/gdocai/document.go:97-106. */
  def trimOneTrailingBreak(s: String): String =
    if (s.isEmpty) s
    else s.charAt(s.length - 1) match {
      case ' ' | '\n' | '\r' | '\t' => s.substring(0, s.length - 1)
      case _                        => s
    }

  /** Token-text cleaning of convertLineFromProto
    * (/root/reference/pkg/gdocai/hocr.go:452-466): TrimSpace, \n->' ',
    * drop \r, then the one-char DetectedBreak trim. */
  def cleanTokenText(raw: String, hasBreak: Boolean): String = {
    var t = trimSpace(raw)
    t = t.replace('\n', ' ')
    t = t.replace("\r", "")
    if (hasBreak) t = trimOneTrailingBreak(t) else t
    t
  }

  /** Charset sniff of ParseHOCR (/root/reference/pkg/hocr/parse.go:19-44):
    * find "charset=", read a 20-char window, split on " ' ; >, lowercase;
    * any non-"utf-8" label (from a window that exists, i.e. at least 10
    * chars after the marker) triggers an ISO-8859-1 decode of the WHOLE
    * byte stream regardless of the declared name. */
  def decodeWithSniff(data: Array[Byte]): String = {
    val content = new String(data, StandardCharsets.UTF_8)
    var encoding = "utf-8"
    val idx = content.indexOf("charset=")
    if (idx >= 0) {
      val metaStart = idx + "charset=".length
      if (content.length > metaStart + 10) {
        val encSnippet = content.substring(metaStart, Math.min(content.length, metaStart + 20))
        // strings.FieldsFunc skips empty fields: drop leading delimiters,
        // then take until the next one.
        def isDelim(c: Char) = c == '"' || c == ';' || c == '\'' || c == '>'
        val first = encSnippet.dropWhile(isDelim).takeWhile(!isDelim(_))
        val enc = first.toLowerCase
        if (enc.nonEmpty) encoding = enc
      }
    }
    if (encoding != "utf-8") new String(data, StandardCharsets.ISO_8859_1)
    else content
  }

  /** Latin-1 encodability (pdfocr drawWord, layer.go:121-126): a string is
    * encodable iff every codepoint <= 0xFF. */
  def latin1Encodable(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) > 0xFF) return false; i += 1 }
    true
  }

  /** Naive UTF-16BE decode with required BOM, NO surrogate pairing —
    * mirrors /root/reference/pkg/pdfocr/helpers.go:25-46 (each uint16
    * becomes one rune). Returns None when the BOM is absent/short. */
  def decodeUtf16beNaive(bytes: Array[Byte]): Option[String] = {
    if (bytes.length < 2 || bytes(0) != 0xFE.toByte || bytes(1) != 0xFF.toByte) return None
    val sb = new StringBuilder
    var i = 2
    while (i + 1 < bytes.length) {
      val u = ((bytes(i) & 0xFF) << 8) | (bytes(i + 1) & 0xFF)
      // Go appends rune(u) directly; lone surrogates render as U+FFFD in Go
      // string conversion.
      if (u >= 0xD800 && u <= 0xDFFF) sb.append('\uFFFD') else sb.append(u.toChar)
      i += 2
    }
    Some(sb.toString)
  }

  /** PDF literal-string unescape (pdfocr helpers.go:18-23):
    * \( -> ( , \) -> ) , \\ -> \ . */
  def unescapePdfString(s: String): String =
    s.replace("\\(", "(").replace("\\)", ")").replace("\\\\", "\\")
}
