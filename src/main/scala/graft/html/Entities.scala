package graft.html

/** HTML entity decoding: numeric (&#123; &#x1F600;) plus the named entities
  * that occur in real web text. Unknown entities pass through literally
  * (robustness over strictness — malformed input must never throw).
  */
object Entities {
  private val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "ensp" -> " ", "emsp" -> " ", "thinsp" -> " ",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“", "rdquo" -> "”",
    "laquo" -> "«", "raquo" -> "»",
    "copy" -> "©", "reg" -> "®", "trade" -> "™", "deg" -> "°",
    "sect" -> "§", "para" -> "¶", "middot" -> "·", "bull" -> "•",
    "dagger" -> "†", "Dagger" -> "‡", "permil" -> "‰",
    "prime" -> "′", "Prime" -> "″",
    "frac12" -> "½", "frac14" -> "¼", "frac34" -> "¾",
    "plusmn" -> "±", "times" -> "×", "divide" -> "÷",
    "minus" -> "−", "sup2" -> "²", "sup3" -> "³",
    "micro" -> "µ", "cent" -> "¢", "pound" -> "£",
    "euro" -> "€", "yen" -> "¥", "curren" -> "¤",
    "larr" -> "←", "uarr" -> "↑", "rarr" -> "→", "darr" -> "↓",
    "harr" -> "↔", "shy" -> "­",
    "agrave" -> "à", "aacute" -> "á", "acirc" -> "â", "auml" -> "ä",
    "egrave" -> "è", "eacute" -> "é", "ecirc" -> "ê", "euml" -> "ë",
    "igrave" -> "ì", "iacute" -> "í", "icirc" -> "î", "iuml" -> "ï",
    "ograve" -> "ò", "oacute" -> "ó", "ocirc" -> "ô", "ouml" -> "ö",
    "ugrave" -> "ù", "uacute" -> "ú", "ucirc" -> "û", "uuml" -> "ü",
    "ntilde" -> "ñ", "ccedil" -> "ç", "szlig" -> "ß",
    "Agrave" -> "À", "Aacute" -> "Á", "Auml" -> "Ä",
    "Eacute" -> "É", "Ouml" -> "Ö", "Uuml" -> "Ü",
    "aring" -> "å", "oslash" -> "ø", "aelig" -> "æ"
  )

  /** Decode entities in `s`. Single pass; no allocation when no '&' present. */
  def decode(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val n = s.length
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        // entity names are short: look for the ';' only within 12 chars, so
        // a run of stray '&' costs O(n), not a scan to the end per '&'
        val end = i + math.min(n - i, 13)
        var semi = i + 1
        while (semi < end && s.charAt(semi) != ';') semi += 1
        if (semi < end) {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#")) {
            val numStr = body.substring(1)
            val cp =
              try {
                if (numStr.startsWith("x") || numStr.startsWith("X"))
                  Integer.parseInt(numStr.substring(1), 16)
                else Integer.parseInt(numStr)
              } catch { case _: NumberFormatException => -1 }
            if (cp >= 0 && cp <= 0x10ffff && Character.isValidCodePoint(cp)) {
              sb.appendAll(Character.toChars(cp)); i = semi + 1
            } else { sb.append(c); i += 1 }
          } else named.get(body) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None      => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
