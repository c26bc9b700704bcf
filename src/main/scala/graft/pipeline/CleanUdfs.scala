package graft.pipeline

import java.nio.charset.{CharacterCodingException, StandardCharsets}
import java.text.Normalizer

/** The two cleaning steps the regex chain can't express (reference:
  * src/processing/cleaner.py:107-116), both deterministic
  * `String => String`. The clean kernel ([[graft.functions.CleanExpression]])
  * runs them ahead of the regex rules when enabled; they are kept OUT of
  * oracle-compared projections (DuckDB has neither NFKC nor a mojibake
  * repair) and are exercised by ScalaTest instead.
  */
object CleanUdfs {

  /** Unicode NFKC normalization (reference cleaner.py:114-116,
    * `unicodedata.normalize('NFKC', text)`). */
  def nfkc(s: String): String =
    if (s == null) null else Normalizer.normalize(s, Normalizer.Form.NFKC)

  /** Inverse of the Windows-1252 decode for the 0x80–0x9F block: the 27
    * printable characters cp1252 assigns where Latin-1 has control codes
    * (the Unicode mapping published by the Unicode Consortium's
    * CP1252.TXT). Every other char <= 0xFF maps to its own code point —
    * which also covers "sloppy cp1252" (ftfy's convention for the five
    * bytes cp1252 leaves undefined: 0x81 0x8D 0x8F 0x90 0x9D decode to
    * the Latin-1 control char, so the identity inverse is exact). */
  private val cp1252Inverse: Map[Char, Byte] = Map(
    '€' -> 0x80, '‚' -> 0x82, 'ƒ' -> 0x83, '„' -> 0x84,
    '…' -> 0x85, '†' -> 0x86, '‡' -> 0x87, 'ˆ' -> 0x88,
    '‰' -> 0x89, 'Š' -> 0x8A, '‹' -> 0x8B, 'Œ' -> 0x8C,
    'Ž' -> 0x8E, '‘' -> 0x91, '’' -> 0x92, '“' -> 0x93,
    '”' -> 0x94, '•' -> 0x95, '–' -> 0x96, '—' -> 0x97,
    '˜' -> 0x98, '™' -> 0x99, 'š' -> 0x9A, '›' -> 0x9B,
    'œ' -> 0x9C, 'ž' -> 0x9E, 'Ÿ' -> 0x9F
  ).map { case (c, b) => c -> b.toByte }

  /** Mojibake repair (reference cleaner.py:107-112 uses ftfy.fix_text; this
    * covers ftfy's dominant real-world class — UTF-8 bytes mis-decoded as
    * Windows-1252 or Latin-1, e.g. "cafÃ©" → "café", "â€™" → "’"). The
    * string is re-encoded through the sloppy-cp1252 inverse (chars <= 0xFF
    * by identity, the 0x80–0x9F printables via [[cp1252Inverse]] — a
    * superset of the pure Latin-1 inverse, so both mis-decode channels
    * repair) and strictly re-decoded as UTF-8. The repair is accepted only
    * when the round-trip is exact AND changes the string; genuine
    * Latin-1/cp1252 text fails the strict decode and passes through
    * untouched. Applied to a fixed point (<= 3 rounds) so double-encoded
    * text ("cafÃƒÂ©") also unwinds — which makes the repair idempotent,
    * preserving the clean chain's idempotence property.
    *
    * Span-level tier (round 15, closing the r14 F1-tail item): a string
    * MIXING already-correct non-ASCII with mojibake ("café … â€™ …")
    * fails the whole-string round-trip, so when the whole-string pass
    * makes no change the repair re-runs PER WHITESPACE-DELIMITED
    * SEGMENT with the identical exact-round-trip acceptance — ftfy
    * repairs per-segment the same way (its fixer walks lines/chunks and
    * scores each independently). Acceptance stays strict per segment, so
    * correct segments round-trip-fail and pass through byte-identical;
    * the residual fidelity limits are (a) mixing WITHIN one
    * whitespace-free segment and (b) a restore_byte_a0 sequence whose
    * degraded 0xA0 is itself the separator next to correct non-ASCII
    * ("café Ã la") — both need ftfy's badness scoring to attempt
    * safely (the pure forms of each still repair whole-string). */
  def fixMojibake(s: String): String = {
    if (s == null) return null
    var cur = s
    var round = 0
    while (round < 3) {
      val whole = fixOnce(cur)
      val next = if (whole eq cur) fixSegments(cur) else whole
      if (next eq cur) return cur
      cur = next
      round += 1
    }
    cur
  }

  /** One per-segment repair pass over whitespace-delimited spans —
    * engaged only after the whole-string [[fixOnce]] declined (mixed
    * strings). Separators are preserved verbatim; each segment gets the
    * same strict accept-only-on-exact-round-trip rule. */
  private def fixSegments(s: String): String = {
    // Precondition: splitting can only help if there IS whitespace to
    // split on and some lead+continuation signal survives INSIDE a
    // segment (the C2/C3+space restore channel spans a separator, which
    // the whole-string pass — the only one that can see it — already
    // declined; re-checking it per segment is a guaranteed no-op).
    var i = 0; var hasWs = false; var signal = false
    while (i < s.length && !(hasWs && signal)) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) hasWs = true
      if (!signal && c >= 0xC2 && c <= 0xF4 && i + 1 < s.length) {
        val n = s.charAt(i + 1)
        signal = (n >= 0x80 && n <= 0xBF) || (n > 0xFF && cp1252Inverse.contains(n))
      }
      i += 1
    }
    if (!hasWs || !signal) return s
    val sb = new java.lang.StringBuilder(s.length)
    var changed = false
    var start = 0
    i = 0
    while (i <= s.length) {
      if (i == s.length || Character.isWhitespace(s.charAt(i))) {
        if (i > start) {
          val seg = s.substring(start, i)
          val rep = fixOnce(seg)
          if (rep ne seg) changed = true
          sb.append(rep)
        }
        if (i < s.length) sb.append(s.charAt(i))
        start = i + 1
      }
      i += 1
    }
    if (changed) sb.toString else s
  }

  private def fixOnce(s: String): String = {
    // Fast reject: repair is only possible when every char has a cp1252
    // byte preimage and at least one UTF-8 lead byte (0xC2-0xF4) is
    // DIRECTLY FOLLOWED by a plausible continuation — a char whose byte
    // is 0x80-0xBF (every cp1252Inverse char maps into 0x80-0x9F), or
    // the restore_byte_a0 channel's space after a C2/C3 lead. A lead
    // alone is not a signal: clean accented text ("café", "É", "señor")
    // is full of 0xC2-0xF4 chars followed by ASCII, and without the
    // continuation check every such string — and under [[fixSegments]]
    // every such TOKEN — paid a doomed decoder round-trip plus the
    // restore rescan (round-15 review: constant-factor churn on the
    // clean chain's hottest UDF for entirely-correct corpora).
    var i = 0; var signal = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c > 0xFF && !cp1252Inverse.contains(c)) return s
      if (!signal && c >= 0xC2 && c <= 0xF4 && i + 1 < s.length) {
        val n = s.charAt(i + 1)
        signal = (n >= 0x80 && n <= 0xBF) ||
          (n > 0xFF && cp1252Inverse.contains(n)) ||
          (c <= 0xC3 && n == ' ')
      }
      i += 1
    }
    if (!signal) return s
    try {
      val bytes = new Array[Byte](s.length)
      i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        bytes(i) = if (c <= 0xFF) c.toByte else cp1252Inverse(c)
        i += 1
      }
      val dec = StandardCharsets.UTF_8.newDecoder() // REPORT on malformed by default
      val fixed = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (fixed != s) fixed else s
    } catch { case _: CharacterCodingException => restoreByteA0(s) }
  }

  /** `restore_byte_a0` (ftfy's third encoding-repair tier, round 14):
    * the NBSP continuation byte 0xA0 inside a mojibaked UTF-8 sequence
    * is routinely rewritten to a plain space by whitespace-normalizing
    * systems downstream of the bad decode — "Ã la carte" (C3 20) where
    * the original "à" was C3 A0. Engaged ONLY when the strict
    * whole-string repair above failed on malformed input (so there is
    * positive evidence of a broken sequence): every space directly
    * following a UTF-8 lead byte (0xC2–0xF4 — a position where a
    * continuation byte is mandatory, so the space is certainly not
    * text) is restored to 0xA0 and the strict decode retried; accepted
    * only on an exact round-trip, like the main path. Leads are
    * restricted to C2/C3 — the Latin-1 mojibake class this repair
    * targets (NBSP and the à-row), whose restored output is always a
    * Latin-1 char. Wider leads would need ftfy's result-badness
    * scoring to stay safe: with, say, C9 admitted, genuine Latin-1
    * "JOSÉ ¡q" (C9 20 A1…) would "repair" to a spurious U+0261. A
    * C2/C3 char before a space in otherwise-malformed text is
    * overwhelmingly mojibake evidence — the same bet ftfy makes. */
  private def restoreByteA0(s: String): String = {
    val bytes = new Array[Byte](s.length)
    var i = 0
    var restored = false
    while (i < s.length) {
      val c = s.charAt(i)
      bytes(i) = if (c <= 0xFF) c.toByte else cp1252Inverse(c)
      if (c == ' ' && i > 0) {
        val prev = bytes(i - 1) & 0xFF
        if (prev == 0xC2 || prev == 0xC3) { bytes(i) = 0xA0.toByte; restored = true }
      }
      i += 1
    }
    if (!restored) return s
    try {
      val dec = StandardCharsets.UTF_8.newDecoder()
      val fixed = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (fixed != s) fixed else s
    } catch { case _: CharacterCodingException => s }
  }

  /** ANSI/VT100 escape-sequence removal (ftfy `remove_terminal_escapes`):
    * CSI color/cursor sequences (`ESC [ params letter`) pasted into
    * scraped logs and terminal dumps. The pattern is ftfy's ANSI_RE
    * shape — parameter bytes are digits/semicolons, one final letter. */
  private val AnsiRe = java.util.regex.Pattern.compile("\u001B\\[[0-9;]*[A-Za-z]")
  def removeTerminalEscapes(s: String): String = {
    if (s == null) return null
    // Fast path: no ESC byte, no allocation.
    if (s.indexOf('\u001B') < 0) s else AnsiRe.matcher(s).replaceAll("")
  }

  // -------------------------------------------------------------------------
  // Round 14: the two remaining high-frequency ftfy classes (F1 tail).
  // -------------------------------------------------------------------------

  /** HTML named entities: the complete Latin-1 block (0xA0-0xFF, the
    * HTML 3.2/4 names in code-point order) plus the common punctuation/
    * symbol names — the high-frequency core of ftfy's unescape table;
    * numeric references (`&#NNN;` / `&#xHH;`) cover the long tail. */
  private val htmlEntities: Map[String, String] = {
    val latin1 = Seq(
      "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect",
      "uml", "copy", "ordf", "laquo", "not", "shy", "reg", "macr",
      "deg", "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot",
      "cedil", "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest",
      "Agrave", "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig", "Ccedil",
      "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute", "Icirc", "Iuml",
      "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc", "Otilde", "Ouml", "times",
      "Oslash", "Ugrave", "Uacute", "Ucirc", "Uuml", "Yacute", "THORN", "szlig",
      "agrave", "aacute", "acirc", "atilde", "auml", "aring", "aelig", "ccedil",
      "egrave", "eacute", "ecirc", "euml", "igrave", "iacute", "icirc", "iuml",
      "eth", "ntilde", "ograve", "oacute", "ocirc", "otilde", "ouml", "divide",
      "oslash", "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml")
      .zipWithIndex.map { case (n, i) => n -> (0xA0 + i).toChar.toString }
    val punct = Seq(
      "quot" -> 0x22, "amp" -> 0x26, "apos" -> 0x27, "lt" -> 0x3C, "gt" -> 0x3E,
      "OElig" -> 0x152, "oelig" -> 0x153, "Scaron" -> 0x160, "scaron" -> 0x161,
      "Yuml" -> 0x178, "fnof" -> 0x192, "circ" -> 0x2C6, "tilde" -> 0x2DC,
      "ensp" -> 0x2002, "emsp" -> 0x2003, "thinsp" -> 0x2009,
      "zwnj" -> 0x200C, "zwj" -> 0x200D, "lrm" -> 0x200E, "rlm" -> 0x200F,
      "ndash" -> 0x2013, "mdash" -> 0x2014,
      "lsquo" -> 0x2018, "rsquo" -> 0x2019, "sbquo" -> 0x201A,
      "ldquo" -> 0x201C, "rdquo" -> 0x201D, "bdquo" -> 0x201E,
      "dagger" -> 0x2020, "Dagger" -> 0x2021, "bull" -> 0x2022,
      "hellip" -> 0x2026, "permil" -> 0x2030, "prime" -> 0x2032,
      "Prime" -> 0x2033, "lsaquo" -> 0x2039, "rsaquo" -> 0x203A,
      "oline" -> 0x203E, "frasl" -> 0x2044, "euro" -> 0x20AC,
      "trade" -> 0x2122, "minus" -> 0x2212)
      .map { case (n, cp) => n -> new String(Character.toChars(cp)) }
    (latin1 ++ punct).toMap
  }

  private val entityRe =
    java.util.regex.Pattern.compile("&(#[xX]?[0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]{1,31});")

  /** HTML-entity unescape (ftfy `unescape_html`, the double-escape
    * class: text that went through HTML escaping once or twice —
    * "&amp;amp;" → "&", "I&#x2019;m" → "I’m"). Conservative: only
    * well-formed `&name;` / `&#N;` / `&#xH;` forms with a known name or
    * a valid non-surrogate code point are replaced; a bare "AT&T" or an
    * unknown "&foo;" passes through untouched. Applied to a fixed point
    * (<= 3 rounds, like [[fixMojibake]]) so double-escapes unwind and
    * the result is idempotent. */
  def unescapeHtml(s: String): String = {
    if (s == null) return null
    var cur = s
    var round = 0
    var changed = true
    while (round < 3 && changed) {
      val next = unescapeOnce(cur)
      changed = next != cur
      cur = next
      round += 1
    }
    cur
  }

  private def unescapeOnce(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val m = entityRe.matcher(s)
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      val body = m.group(1)
      val rep: String =
        if (body.charAt(0) == '#') {
          val hex = body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X')
          val digits = if (hex) body.substring(2) else body.substring(1)
          val cp = try {
            if (hex) Integer.parseInt(digits, 16)
            else if (digits.forall(_.isDigit)) Integer.parseInt(digits, 10)
            else -1
          } catch { case _: NumberFormatException => -1 }
          if (cp > 0 && cp <= 0x10FFFF && !(cp >= 0xD800 && cp <= 0xDFFF))
            new String(Character.toChars(cp))
          else null
        } else htmlEntities.getOrElse(body, null)
      if (rep != null) {
        sb.append(s, last, m.start()).append(rep)
        last = m.end()
      }
    }
    if (last == 0) s else { sb.append(s, last, s.length); sb.toString }
  }

  /** Forward cp1252 map for the C1 block: control code point (0x80-0x9F)
    * → the printable Windows-1252 assigns that byte. */
  private val cp1252Forward: Map[Char, Char] =
    cp1252Inverse.map { case (c, b) => ((b & 0xFF).toChar, c) }

  /** C1-control repair (ftfy `fix_c1_controls`, the curly-quote class:
    * cp1252 bytes decoded as Latin-1 leave C1 controls where curly
    * quotes/dashes belong — "quoted" → "“quoted”"). Only the
    * 27 printable mappings are taken; other C1 chars (and everything
    * else) pass through. Runs AFTER [[fixMojibake]] in [[fixText]]: a
    * UTF-8-as-Latin-1 string legitimately contains C1 chars as
    * continuation bytes, and the encoding repair must see them raw. */
  def fixC1Controls(s: String): String = {
    if (s == null) return null
    var i = 0
    var any = false
    while (i < s.length && !any) {
      val c = s.charAt(i)
      if (c >= 0x80 && c <= 0x9F && cp1252Forward.contains(c)) any = true
      i += 1
    }
    if (!any) return s
    val out = new Array[Char](s.length)
    i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      out(i) = if (c >= 0x80 && c <= 0x9F) cp1252Forward.getOrElse(c, c) else c
      i += 1
    }
    new String(out)
  }

  /** The full F1 step (reference cleaner.py:107-112, ftfy.fix_text's
    * default plan order restricted to the classes ported here):
    * unescape_html → remove_terminal_escapes → fix_encoding (with the
    * restore_byte_a0 fallback tier) → fix_c1_controls. The
    * double-escaped mojibake composition
    * ("&amp;acirc;&amp;euro;&amp;trade;") unwinds through the chain:
    * entities first (possibly twice), then the byte repair, then stray
    * cp1252-as-Latin-1 controls. */
  def fixText(s: String): String =
    fixC1Controls(fixMojibake(removeTerminalEscapes(unescapeHtml(s))))
}
