package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.util.ArrayData

/** Native token-array predicate counting — the codegen replacement for
  * the `size(filter(tokens, x => x.rlike(pat)))` HOF pattern
  * (gopherRules' alpha-word rule and any per-token regex fraction).
  * HigherOrderFunction is CodegenFallback: the HOF form boxes every
  * token through an interpreted lambda AND recompiles nothing — each
  * `rlike` inside a lambda re-matches via its own machinery per row.
  * Here the Pattern compiles ONCE at plan time and one primitive loop
  * walks the unsafe array. Interpreted eval and codegen share the
  * kernel (every [[Kernels]] row calls one kernel on both paths).
  */
object TextKernels {
  /** The `count_rlike` kernel: # elements where `p.find()` matches
    * (unanchored — `rlike` semantics, Java regex: stay inside the
    * Java/RE2-common subset when the count feeds a hashed output); null
    * elements count as non-matches, exactly as a null-returning filter
    * lambda excludes its row. */
  def countRlike(arr: ArrayData, p: Pattern): Long = {
    val n = arr.numElements()
    var cnt = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) &&
          p.matcher(arr.getUTF8String(i).toString).find()) cnt += 1
      i += 1
    }
    cnt
  }

  /** The `nfc_normalize` kernel (named after DuckDB's built-in, so
    * oracle SQL reads identically): Unicode NFC, so canonically
    * equivalent sequences (é vs e + U+0301) compare equal; the common
    * already-normalized case short-circuits without re-encoding. */
  def nfc(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** The full HTML4/XHTML named character entity set — 252 entries
    * across the three public DTD files (Latin-1 96 + symbols 124 +
    * special 32), name → codepoint, CASE-SENSITIVE (`Eacute` and
    * `eacute` are distinct entries; `RSQUO` is not a name). The
    * `&rsquo; &mdash; &hellip; &eacute;`-class refs appear on
    * practically every real page — leaving them verbatim poisons
    * downstream line rules. Names are 2–8 ASCII alphanumerics. */
  val htmlEntityTable: Map[String, Int] = Map(
    "AElig" -> 198, "Aacute" -> 193, "Acirc" -> 194,
    "Agrave" -> 192, "Alpha" -> 913, "Aring" -> 197,
    "Atilde" -> 195, "Auml" -> 196, "Beta" -> 914,
    "Ccedil" -> 199, "Chi" -> 935, "Dagger" -> 8225,
    "Delta" -> 916, "ETH" -> 208, "Eacute" -> 201,
    "Ecirc" -> 202, "Egrave" -> 200, "Epsilon" -> 917,
    "Eta" -> 919, "Euml" -> 203, "Gamma" -> 915, "Iacute" -> 205,
    "Icirc" -> 206, "Igrave" -> 204, "Iota" -> 921,
    "Iuml" -> 207, "Kappa" -> 922, "Lambda" -> 923, "Mu" -> 924,
    "Ntilde" -> 209, "Nu" -> 925, "OElig" -> 338,
    "Oacute" -> 211, "Ocirc" -> 212, "Ograve" -> 210,
    "Omega" -> 937, "Omicron" -> 927, "Oslash" -> 216,
    "Otilde" -> 213, "Ouml" -> 214, "Phi" -> 934, "Pi" -> 928,
    "Prime" -> 8243, "Psi" -> 936, "Rho" -> 929, "Scaron" -> 352,
    "Sigma" -> 931, "THORN" -> 222, "Tau" -> 932, "Theta" -> 920,
    "Uacute" -> 218, "Ucirc" -> 219, "Ugrave" -> 217,
    "Upsilon" -> 933, "Uuml" -> 220, "Xi" -> 926,
    "Yacute" -> 221, "Yuml" -> 376, "Zeta" -> 918,
    "aacute" -> 225, "acirc" -> 226, "acute" -> 180,
    "aelig" -> 230, "agrave" -> 224, "alefsym" -> 8501,
    "alpha" -> 945, "amp" -> 38, "and" -> 8743, "ang" -> 8736,
    "aring" -> 229, "asymp" -> 8776, "atilde" -> 227,
    "auml" -> 228, "bdquo" -> 8222, "beta" -> 946,
    "brvbar" -> 166, "bull" -> 8226, "cap" -> 8745,
    "ccedil" -> 231, "cedil" -> 184, "cent" -> 162, "chi" -> 967,
    "circ" -> 710, "clubs" -> 9827, "cong" -> 8773,
    "copy" -> 169, "crarr" -> 8629, "cup" -> 8746,
    "curren" -> 164, "dArr" -> 8659, "dagger" -> 8224,
    "darr" -> 8595, "deg" -> 176, "delta" -> 948,
    "diams" -> 9830, "divide" -> 247, "eacute" -> 233,
    "ecirc" -> 234, "egrave" -> 232, "empty" -> 8709,
    "emsp" -> 8195, "ensp" -> 8194, "epsilon" -> 949,
    "equiv" -> 8801, "eta" -> 951, "eth" -> 240, "euml" -> 235,
    "euro" -> 8364, "exist" -> 8707, "fnof" -> 402,
    "forall" -> 8704, "frac12" -> 189, "frac14" -> 188,
    "frac34" -> 190, "frasl" -> 8260, "gamma" -> 947,
    "ge" -> 8805, "gt" -> 62, "hArr" -> 8660, "harr" -> 8596,
    "hearts" -> 9829, "hellip" -> 8230, "iacute" -> 237,
    "icirc" -> 238, "iexcl" -> 161, "igrave" -> 236,
    "image" -> 8465, "infin" -> 8734, "int" -> 8747,
    "iota" -> 953, "iquest" -> 191, "isin" -> 8712,
    "iuml" -> 239, "kappa" -> 954, "lArr" -> 8656,
    "lambda" -> 955, "lang" -> 9001, "laquo" -> 171,
    "larr" -> 8592, "lceil" -> 8968, "ldquo" -> 8220,
    "le" -> 8804, "lfloor" -> 8970, "lowast" -> 8727,
    "loz" -> 9674, "lrm" -> 8206, "lsaquo" -> 8249,
    "lsquo" -> 8216, "lt" -> 60, "macr" -> 175, "mdash" -> 8212,
    "micro" -> 181, "middot" -> 183, "minus" -> 8722,
    "mu" -> 956, "nabla" -> 8711, "nbsp" -> 160, "ndash" -> 8211,
    "ne" -> 8800, "ni" -> 8715, "not" -> 172, "notin" -> 8713,
    "nsub" -> 8836, "ntilde" -> 241, "nu" -> 957,
    "oacute" -> 243, "ocirc" -> 244, "oelig" -> 339,
    "ograve" -> 242, "oline" -> 8254, "omega" -> 969,
    "omicron" -> 959, "oplus" -> 8853, "or" -> 8744,
    "ordf" -> 170, "ordm" -> 186, "oslash" -> 248,
    "otilde" -> 245, "otimes" -> 8855, "ouml" -> 246,
    "para" -> 182, "part" -> 8706, "permil" -> 8240,
    "perp" -> 8869, "phi" -> 966, "pi" -> 960, "piv" -> 982,
    "plusmn" -> 177, "pound" -> 163, "prime" -> 8242,
    "prod" -> 8719, "prop" -> 8733, "psi" -> 968, "quot" -> 34,
    "rArr" -> 8658, "radic" -> 8730, "rang" -> 9002,
    "raquo" -> 187, "rarr" -> 8594, "rceil" -> 8969,
    "rdquo" -> 8221, "real" -> 8476, "reg" -> 174,
    "rfloor" -> 8971, "rho" -> 961, "rlm" -> 8207,
    "rsaquo" -> 8250, "rsquo" -> 8217, "sbquo" -> 8218,
    "scaron" -> 353, "sdot" -> 8901, "sect" -> 167, "shy" -> 173,
    "sigma" -> 963, "sigmaf" -> 962, "sim" -> 8764,
    "spades" -> 9824, "sub" -> 8834, "sube" -> 8838,
    "sum" -> 8721, "sup" -> 8835, "sup1" -> 185, "sup2" -> 178,
    "sup3" -> 179, "supe" -> 8839, "szlig" -> 223, "tau" -> 964,
    "there4" -> 8756, "theta" -> 952, "thetasym" -> 977,
    "thinsp" -> 8201, "thorn" -> 254, "tilde" -> 732,
    "times" -> 215, "trade" -> 8482, "uArr" -> 8657,
    "uacute" -> 250, "uarr" -> 8593, "ucirc" -> 251,
    "ugrave" -> 249, "uml" -> 168, "upsih" -> 978,
    "upsilon" -> 965, "uuml" -> 252, "weierp" -> 8472,
    "xi" -> 958, "yacute" -> 253, "yen" -> 165, "yuml" -> 255,
    "zeta" -> 950, "zwj" -> 8205, "zwnj" -> 8204)

  // hot-path lookup form (HashMap.get, no Option boxing per ref)
  private val htmlEntities: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](512)
    htmlEntityTable.foreach { case (k, v) => m.put(k, Integer.valueOf(v)) }
    m
  }

  /** Single-pass HTML character-reference decode — numeric refs
    * (`&#nnn;` decimal ≤ 7 digits, `&#xhh;`/`&#Xhh;` hex ≤ 6 digits,
    * leading zeros allowed within the cap) plus the full
    * HTML4 252-entity named table ([[htmlEntityTable]],
    * case-sensitive, semicolon required). One left-to-right scan, no rescan
    * of replacements — the real parser semantics (`&#38;lt;` yields
    * the literal `&lt;`, matching the old chain's amp-last rule, and
    * `&amp;mdash;` yields the literal `&mdash;`, which a sequential
    * replace chain cannot get right). A regex-chain alternative would
    * need one `regexp_replace` pass per codepoint (~450 full-text
    * scans per document); this kernel is one scan whatever the range.
    *
    * Decode rules: a NUMERIC ref decodes iff it parses completely
    * (ASCII digits then `;`) AND the codepoint is tab/LF/CR or ≥ 32,
    * ≤ U+10FFFF, and not a surrogate; a NAMED ref decodes iff the
    * maximal ASCII-alphanumeric run after `&` (capped at 8, the
    * longest HTML4 name) is immediately followed by `;` and matches a
    * table entry exactly — `&ampx` stays verbatim while `&amp;x`
    * decodes to `&x`, and `&RSQUO;` stays verbatim (case matters).
    * Anything else — malformed, truncated, out of range, control,
    * unknown name — passes through VERBATIM (the front door's documented
    * leave-don't-guess rule; a cleaning filter catches stragglers).
    * One canonicalization quirk kept deliberately: NBSP (named or
    * numeric 160) decodes to a PLAIN space, because the downstream
    * whitespace squeeze uses the explicit `[ \t\f\r]` class and a
    * literal   would silently survive it. The quirk is NBSP-only:
    * ensp/emsp/thinsp decode to their real codepoints. */
  def decodeHtmlRefs(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    if (str.indexOf('&') < 0) return s
    val n = str.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val ch = str.charAt(i)
      if (ch != '&') { sb.append(ch); i += 1 }
      else if (i + 2 < n && str.charAt(i + 1) == '#') {
        val hex = str.charAt(i + 2) == 'x' || str.charAt(i + 2) == 'X'
        val d0 = if (hex) i + 3 else i + 2
        val maxDigits = if (hex) 6 else 7
        var d = d0
        var cp = 0
        var ok = true
        while (ok && d < n && d - d0 < maxDigits + 1 && {
          val c = str.charAt(d)
          if (hex) {
            // explicit ASCII hex classes — Character.digit accepts
            // non-ASCII Unicode digits (U+0663 counts as 3), diverging
            // from the HTML ASCII-hex rule
            val v =
              if (c >= '0' && c <= '9') c - '0'
              else if (c >= 'a' && c <= 'f') c - 'a' + 10
              else if (c >= 'A' && c <= 'F') c - 'A' + 10
              else -1
            if (v >= 0) { cp = (cp << 4) | v; true } else false
          } else if (c >= '0' && c <= '9') { cp = cp * 10 + (c - '0'); true }
          else false
        }) d += 1
        val nd = d - d0
        ok = nd >= 1 && nd <= maxDigits && d < n && str.charAt(d) == ';' &&
          (cp == 9 || cp == 10 || cp == 13 ||
            (cp >= 32 && cp <= 0x10FFFF && (cp < 0xD800 || cp > 0xDFFF)))
        if (ok) {
          if (cp == 160) sb.append(' ') else sb.appendCodePoint(cp)
          i = d + 1
        } else { sb.append('&'); i += 1 }
      }
      else {
        // named entity: maximal [A-Za-z0-9] run (≤ 8 chars — the
        // longest HTML4 name, "thetasym"), then ';', then an exact
        // case-sensitive table hit; `&ampx` stays verbatim while
        // `&amp;x` decodes to `&x`
        var d = i + 1
        val dMax = math.min(n, i + 9)
        while (d < dMax && {
          val c = str.charAt(d)
          (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
            (c >= '0' && c <= '9')
        }) d += 1
        var decoded = false
        if (d - i >= 3 && d < n && str.charAt(d) == ';') {
          val cp = htmlEntities.get(str.substring(i + 1, d))
          if (cp != null) {
            if (cp.intValue == 160) sb.append(' ')
            else sb.appendCodePoint(cp.intValue)
            i = d + 1
            decoded = true
          }
        }
        if (!decoded) { sb.append('&'); i += 1 }
      }
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Single-pass Luhn-verified card excision — the [[redactCards]]
    * kernel behind `redact_cards`. Candidate spans are maximal runs of
    * digits and single separators each followed by a digit (so the
    * span's shape is decided once, never re-examined piecewise):
    *
    *  - a CONTIGUOUS span (no separators) is a candidate iff its
    *    length is 13–19 — exactly
    *    [[graft.pipeline.Pii.cardReport]]'s maximal-run rule;
    *  - a GROUPED span is a candidate iff every separator is the SAME
    *    character from {space, hyphen}, every group is 3–6 digits
    *    (the shapes cards are actually printed in — 4-4-4-4,
    *    4-6-5, 4-4-4-4-3 — while "1 000 000"-style number formatting
    *    fails the group-size rule), and total digits are 13–19.
    *
    * A candidate whose digits hold the Luhn mod-10 checksum (doubling
    * every second digit from the RIGHT with the >9 ⇒ −9 fold) is
    * replaced — separators and all — by `<CARD>`. A span that is NOT
    * excised as a whole falls back to the PER-GROUP contiguous rule:
    * each of its digit groups is a maximal contiguous run, so a
    * 13–19-digit Luhn-valid group is excised individually
    * ("pay 4539578763621486 42 dollars" — the trailing amount makes
    * the grouped shape fail, but the card inside must still go; the
    * contiguous contract cannot be weakened by adjacent numbers).
    * Everything else is copied verbatim. The no-13-digit common case
    * returns the input object without allocating. Documented bounds:
    * a Luhn-valid 13–19-digit grouped number that is NOT a card
    * (1-in-10 of random formatted numbers passing the checksum) is
    * excised — the standard scrubber recall-over-precision trade; and
    * [[graft.pipeline.Pii.cardReport]]'s detection COUNTS stay
    * contiguous-only (the grouped arm is pinned by its own query). */
  def redactCards(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    val n = str.length
    // cheap scan-reject: no 13 digits within a potential span (digits
    // possibly separated singly), no allocation. Counting ALL digits
    // without resetting at separators over-approximates — fine for a
    // reject filter.
    var i = 0
    var run = 0
    var has = false
    while (i < n && !has) {
      val c = str.charAt(i)
      if (c >= '0' && c <= '9') { run += 1; if (run >= 13) has = true }
      else if (c != ' ' && c != '-') run = 0
      i += 1
    }
    if (!has) return s
    val sb = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c < '0' || c > '9') { sb.append(c); i += 1 }
      else {
        // parse the maximal span: digit groups joined by one-char
        // separators each followed by a digit
        val spanStart = i
        var digits = 0
        var groups = 0
        var minGroup = Int.MaxValue
        var maxGroup = 0
        var sep = '\u0000'
        var uniform = true
        var j = i
        var done = false
        while (!done) {
          val g0 = j
          while (j < n && str.charAt(j) >= '0' && str.charAt(j) <= '9') j += 1
          val gl = j - g0
          digits += gl
          groups += 1
          if (gl < minGroup) minGroup = gl
          if (gl > maxGroup) maxGroup = gl
          if (j < n && (str.charAt(j) == ' ' || str.charAt(j) == '-') &&
              j + 1 < n && str.charAt(j + 1) >= '0' && str.charAt(j + 1) <= '9') {
            if (sep == '\u0000') sep = str.charAt(j)
            else if (str.charAt(j) != sep) uniform = false
            j += 1
          } else done = true
        }
        val spanEnd = j
        val cand =
          if (groups == 1) digits >= 13 && digits <= 19
          else uniform && minGroup >= 3 && maxGroup <= 6 &&
            digits >= 13 && digits <= 19
        if (cand && luhnOkSpan(str, spanStart, spanEnd))
          sb.append("<CARD>")
        else if (groups > 1 && maxGroup >= 13) {
          // per-group contiguous fallback: re-walk the span, excising
          // any 13–19-digit Luhn-valid GROUP (a maximal contiguous
          // run) and copying everything else — an adjacent short
          // number must not shield a card
          var k = spanStart
          while (k < spanEnd) {
            val ck = str.charAt(k)
            if (ck < '0' || ck > '9') { sb.append(ck); k += 1 }
            else {
              var g = k
              while (g < spanEnd && str.charAt(g) >= '0' &&
                str.charAt(g) <= '9') g += 1
              if (g - k >= 13 && g - k <= 19 && luhnOkSpan(str, k, g))
                sb.append("<CARD>")
              else sb.append(str, k, g)
              k = g
            }
          }
        }
        else sb.append(str, spanStart, spanEnd)
        i = spanEnd
      }
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  private def luhnOkSpan(str: String, from: Int, until: Int): Boolean = {
    var sum = 0
    var k = until - 1
    var dbl = false
    while (k >= from) {
      val c = str.charAt(k)
      if (c >= '0' && c <= '9') {
        var d = c - '0'
        if (dbl) { d *= 2; if (d > 9) d -= 9 }
        sum += d
        dbl = !dbl
      }
      k -= 1
    }
    sum % 10 == 0
  }

  /** robots.txt glob match (the `robots_match` kernel): `pattern`
    * matches a PREFIX of `path` anchored at position 0 — the RFC 9309
    * rule ("/q" matches every path under /q) — with `*` spanning any
    * run (greedy, backtracking) and a single trailing `$` anchoring
    * the match to the path's END (full match). Everything else is a
    * literal octet compare, case-sensitive (URL paths are). Two
    * pointers, no regex compilation per (url, rule) pair. */
  def robotsMatch(pattern: org.apache.spark.unsafe.types.UTF8String,
      path: org.apache.spark.unsafe.types.UTF8String): Boolean = {
    val p = pattern.toString
    val s = path.toString
    val full = p.nonEmpty && p.charAt(p.length - 1) == '$'
    val pat = if (full) p.substring(0, p.length - 1) else p
    if (pat.isEmpty) return !full || s.isEmpty
    val np = pat.length
    val ns = s.length
    var pi = 0
    var si = 0
    var starP = -1
    var starS = -1
    while (si < ns) {
      if (pi < np && pat.charAt(pi) == '*') {
        starP = pi
        starS = si
        pi += 1
      } else if (pi < np && pat.charAt(pi) == s.charAt(si)) {
        pi += 1
        si += 1
      } else if (starP >= 0) {
        starS += 1
        si = starS
        pi = starP + 1
      } else return false
      if (pi == np && !full) return true
    }
    while (pi < np && pat.charAt(pi) == '*') pi += 1
    pi == np && (!full || si == ns)
  }

  /** Parse a `count_ranges` class spec — classes separated by `;`,
    * each a run of codepoint items (`\uXXXX` escapes or literal
    * characters) optionally joined into ranges by `-` — into per-class
    * flattened [lo, hi, lo, hi, …] arrays. Plan-time only. */
  def parseRangeSpec(spec: String): Array[Array[Int]] =
    spec.split(";", -1).map { cls =>
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      def readPoint(): Int =
        if (i + 5 < cls.length && cls.charAt(i) == '\\' &&
            cls.charAt(i + 1) == 'u') {
          val v = Integer.parseInt(cls.substring(i + 2, i + 6), 16)
          i += 6
          v
        } else {
          val v = cls.codePointAt(i)
          i += Character.charCount(v)
          v
        }
      while (i < cls.length) {
        val lo = readPoint()
        val hi =
          if (i < cls.length && cls.charAt(i) == '-' && i + 1 <= cls.length - 1) {
            i += 1
            readPoint()
          } else lo
        require(hi >= lo, s"count_ranges: descending range in '$cls'")
        out += lo
        out += hi
      }
      out.toArray
    }

  /** Single-pass multi-class codepoint counting — the `count_ranges`
    * kernel: ONE walk over the string's codepoints increments every
    * class whose ranges contain the point, replacing one strip-diff
    * `length(x) - length(regexp_replace(x, class, ''))` full-text
    * regex pass (plus its rebuilt string) PER CLASS. Count semantics
    * are identical to the strip-diff device: both count CODEPOINTS
    * (Spark `length` is UTF8String.numChars), and a codepoint in k
    * classes increments all k. One count per class, in spec order. */
  def countRanges(s: org.apache.spark.unsafe.types.UTF8String,
      classes: Array[Array[Int]]): ArrayData = {
    val str = s.toString
    val counts = new Array[Long](classes.length)
    val n = str.length
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      var k = 0
      while (k < classes.length) {
        val r = classes(k)
        var j = 0
        var hit = false
        while (!hit && j < r.length) {
          if (cp >= r(j) && cp <= r(j + 1)) hit = true
          j += 2
        }
        if (hit) counts(k) += 1
        k += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  /** No-space-script codepoint ranges — scripts written WITHOUT word
    * separators, where a whitespace tokenizer degenerates into one
    * giant "token" per document and every downstream token statistic
    * (counts, vocab, percentiles, LM grams, fertility) silently
    * corrupts. Flat [lo, hi, lo, hi, …], ascending, BMP-ONLY by
    * design: a supplementary codepoint is two surrogate chars in Java,
    * so keeping the set inside the BMP makes char-indexed bigram
    * slicing exactly codepoint slicing — and both engines' substring
    * then agree without surrogate bookkeeping (supplementary CJK
    * Ext-B+ text rides through as ordinary word characters). Hangul is
    * deliberately ABSENT (Korean uses spaces).
    *
    * [[noSpaceClassRegex]] is the SAME set as a regex class body in
    * the `\x{XXXX}` form both Java regex and RE2 accept — oracles
    * must build their replay from it so the two sides cannot drift. */
  val noSpaceRanges: Array[Int] = Array(
    0x0E01, 0x0E5B, // Thai (letters, vowels, tone marks, digits)
    0x0E81, 0x0EDF, // Lao
    0x1000, 0x109F, // Myanmar
    0x1780, 0x17FF, // Khmer
    0x3040, 0x30FF, // Hiragana + Katakana
    0x3400, 0x4DBF, // CJK Extension A
    0x4E00, 0x9FFF, // CJK Unified Ideographs
    0xF900, 0xFAFF) // CJK Compatibility Ideographs

  /** [[noSpaceRanges]] as a regex character-class BODY (no brackets),
    * `\x{XXXX}` escapes — valid in Java regex and RE2 alike. */
  val noSpaceClassRegex: String =
    noSpaceRanges.grouped(2).map { case Array(lo, hi) =>
      f"\\x{$lo%04X}-\\x{$hi%04X}"
    }.mkString

  private def isNoSpaceChar(c: Char): Boolean = {
    val r = noSpaceRanges
    var j = 0
    while (j < r.length) {
      if (c >= r(j) && c <= r(j + 1)) return true
      j += 2
    }
    false
  }

  private def isWsChar(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** Expand one whitespace-delimited token: maximal same-class runs —
    * no-space-script runs become overlapping character BIGRAMS (the
    * classic CJK indexing unit; a length-1 run stays a unigram), every
    * other run is emitted whole. A token with no no-space character
    * passes through untouched (the ASCII fast path — on a separator-
    * scripted corpus this tokenizer is bit-identical to the plain
    * whitespace split). */
  private def expandToken(tok: String,
      out: scala.collection.mutable.ArrayBuffer[String]): Unit = {
    val n = tok.length
    var any = false
    var i = 0
    while (!any && i < n) {
      if (isNoSpaceChar(tok.charAt(i))) any = true
      i += 1
    }
    if (!any) { out += tok; return }
    i = 0
    while (i < n) {
      val ns = isNoSpaceChar(tok.charAt(i))
      var j = i + 1
      while (j < n && isNoSpaceChar(tok.charAt(j)) == ns) j += 1
      if (!ns || j - i == 1) out += tok.substring(i, j)
      else {
        var k = i
        while (k < j - 1) { out += tok.substring(k, k + 2); k += 1 }
      }
      i = j
    }
  }

  /** Script-aware tokenizer core — whitespace split with the EXACT
    * empty-segment semantics of `split(str, '[ \t\n\f\r]+')` (Java
    * Pattern.split limit -1: leading/trailing separators yield empty
    * tokens), then [[expandToken]] per non-empty segment. The
    * empty-token parity is what makes the Column form a DROP-IN for
    * the old `split(lower(text), ws)` — `size()` consumers see
    * identical arrays on separator-scripted text. */
  def tokenizeMixedCore(s: String): scala.collection.mutable.ArrayBuffer[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    val n = s.length
    var i = 0
    var segStart = 0
    while (i < n) {
      if (isWsChar(s.charAt(i))) {
        if (i == segStart) out += ""
        else expandToken(s.substring(segStart, i), out)
        var j = i + 1
        while (j < n && isWsChar(s.charAt(j))) j += 1
        i = j
        segStart = j
      } else i += 1
    }
    if (n == segStart) out += ""
    else expandToken(s.substring(segStart, n), out)
    out
  }

  /** The `count_substrs` kernel: overlapping occurrence counts of each
    * gram in the string, in gram order, one forward indexOf walk per
    * gram (grams are plan-time constants, typically tens — the whole
    * profile matching stage collapses into one scan projection, zero
    * shuffles). Empty grams count 0. Matching is char-substring based:
    * counts equal the position-window form only for grams whose char
    * length equals their codepoint length (callers with window
    * semantics must require BMP grams — langIdNgram does). */
  def countSubstrs(s: org.apache.spark.unsafe.types.UTF8String,
      grams: Array[String]): ArrayData = {
    val str = s.toString
    val out = new Array[Long](grams.length)
    var k = 0
    while (k < grams.length) {
      val g = grams(k)
      if (g.nonEmpty) {
        var i = str.indexOf(g)
        var c = 0L
        while (i >= 0) { c += 1; i = str.indexOf(g, i + 1) }
        out(k) = c
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The `tokenize_mixed` kernel: UTF8String in, string array out. The
    * lowercase is composed OUTSIDE (the caller wraps `lower()`), keeping
    * Spark's own casing semantics. */
  def tokenizeMixed(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val toks = tokenizeMixedCore(s.toString)
    val arr = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      arr(i) = org.apache.spark.unsafe.types.UTF8String.fromString(toks(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Charset front-door kernels: BOM detection, strict UTF-8 validation,
  * WHATWG windows-1252 fallback — behind `decode_page`.
  * The reference's deserializer hardcodes UTF-8
  * (`roleAnalysisTopology/.../util/JacksonScheme.java:30-38`); a real
  * crawl carries BOM'd and Windows-1252/Latin-1 content that would
  * otherwise mojibake silently through the extract stage. */
object CharsetKernels {
  import java.nio.charset.StandardCharsets

  /** Strict UTF-8 validity: rejects continuation-byte errors, overlong
    * encodings, surrogates and codepoints past U+10FFFF — a hand loop
    * (a per-row CharsetDecoder try/catch would pay exception cost on
    * every Latin-1 document). */
  def isValidUtf8(b: Array[Byte]): Boolean = {
    var i = 0
    val n = b.length
    while (i < n) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else if (c < 0xC2) return false // bare continuation / overlong C0-C1
      else if (c < 0xE0) {
        if (i + 1 >= n || (b(i + 1) & 0xC0) != 0x80) return false
        i += 2
      } else if (c < 0xF0) {
        if (i + 2 >= n) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xC0) != 0x80 || (b(i + 2) & 0xC0) != 0x80) return false
        if (c == 0xE0 && c1 < 0xA0) return false // overlong
        if (c == 0xED && c1 >= 0xA0) return false // surrogate range
        i += 3
      } else if (c < 0xF5) {
        if (i + 3 >= n) return false
        val c1 = b(i + 1) & 0xff
        if ((c1 & 0xC0) != 0x80 || (b(i + 2) & 0xC0) != 0x80 ||
          (b(i + 3) & 0xC0) != 0x80) return false
        if (c == 0xF0 && c1 < 0x90) return false // overlong
        if (c == 0xF4 && c1 >= 0x90) return false // past U+10FFFF
        i += 4
      } else return false
    }
    true
  }

  /** Detection policy, in order: UTF-8 BOM → UTF-16LE/BE BOM → strict
    * UTF-8 validation → Windows-1252 fallback (every byte decodes, so
    * the front door never drops a document). The fallback is CP1252
    * rather than Latin-1 because that is what the bytes MEAN on the
    * real web: the WHATWG encoding standard (and every browser)
    * decodes latin-1/iso-8859-1-labeled content as windows-1252 —
    * 0x80–0x9F are smart quotes/dashes/ellipsis, not C1 controls.
    * Documented bounds: UTF-32 BOMs read as their UTF-16 prefixes;
    * unBOM'd UTF-16 is not sniffed (NUL-heavy bytes fail UTF-8
    * validation and fall back to CP1252); and the converse of the BOM
    * rule is absolute — ANY payload whose first two bytes are FF FE /
    * FE FF classifies as UTF-16, so a cp1252/binary document that
    * happens to START with 'ÿþ' or 'þÿ' is misread (the WHATWG sniff
    * has the same property; real-text collisions require those exact
    * leading bytes and are vanishingly rare vs unBOM'd UTF-16,
    * which is common). */
  def charsetOf(b: Array[Byte]): String =
    if (b.length >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte &&
      b(2) == 0xBF.toByte) "utf-8-bom"
    else if (b.length >= 2 && b(0) == 0xFF.toByte && b(1) == 0xFE.toByte)
      "utf-16le"
    else if (b.length >= 2 && b(0) == 0xFE.toByte && b(1) == 0xFF.toByte)
      "utf-16be"
    else if (isValidUtf8(b)) "utf-8"
    else "cp1252"

  /** The WHATWG windows-1252 mapping for 0x80–0x9F (index = byte −
    * 0x80). The JDK's own windows-1252 charset leaves its five
    * unassigned bytes (0x81 0x8D 0x8F 0x90 0x9D) as U+FFFD — lossy;
    * WHATWG maps them to the corresponding C1 controls, keeping the
    * fallback TOTAL and byte-reversible. */
  private val Cp1252Hi: Array[Char] = Array(
    0x20AC, 0x0081, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x008D, 0x017D, 0x008F,
    0x0090, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0x009D, 0x017E, 0x0178)
    .map(_.toChar)

  /** The `decode_page` kernel: struct(charset, text) from ONE
    * detection scan (the strict-UTF-8 validation pass runs once per
    * page, however many of the two fields a query reads). The text is
    * decoded under the detected charset, BOM stripped: the BOM'd and
    * UTF-16 arms use the JDK's replacement-char decode (a BOM is
    * trusted; a malformed tail yields U+FFFD rather than dropping the
    * document); the valid-UTF-8 arm is zero-copy; the CP1252 fallback
    * is a direct byte→char table (WHATWG-total, injective, so the
    * original bytes are always recoverable). */
  def decodePage(b: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow = {
    val cs = charsetOf(b)
    org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(cs),
      decodeAs(b, cs))
  }

  private def decodeAs(b: Array[Byte],
      cs: String): org.apache.spark.unsafe.types.UTF8String = {
    import org.apache.spark.unsafe.types.UTF8String
    cs match {
      case "utf-8-bom" => UTF8String.fromString(
        new String(b, 3, b.length - 3, StandardCharsets.UTF_8))
      case "utf-16le" => UTF8String.fromString(
        new String(b, 2, b.length - 2, StandardCharsets.UTF_16LE))
      case "utf-16be" => UTF8String.fromString(
        new String(b, 2, b.length - 2, StandardCharsets.UTF_16BE))
      case "utf-8" => UTF8String.fromBytes(b)
      case _ =>
        val out = new Array[Char](b.length)
        var i = 0
        while (i < b.length) {
          val v = b(i) & 0xff
          out(i) =
            if (v >= 0x80 && v <= 0x9F) Cp1252Hi(v - 0x80) else v.toChar
          i += 1
        }
        UTF8String.fromString(new String(out))
    }
  }
}
