package graft.plans

/** The complete HTML4 character-entity table — the three DTD sets
  * HTMLlat1 (96), HTMLsymbol (124), HTMLspecial (32) — plus XML's
  * `apos`: 253 names, each decodable by NAME (`&mdash;`, case-sensitive
  * per the DTDs: `&Eacute;` and `&eacute;` differ), by DECIMAL numeric
  * reference (`&#8212;`, leading zeros tolerated), and by HEX numeric
  * reference (`&#x2014;`, `x` and hex digits case-insensitive, leading
  * zeros tolerated). Reference for the six-entity predecessor this
  * replaces: /root/reference/src/hds_functions (no HTML handling there —
  * this is the crawl-curation extension surface).
  *
  * ONE table, two consumers, parity by construction:
  *   - [[Stages]]: (pattern, replacement) regex stages folded into the
  *     DuckDB oracle's `regexp_replace` chain (RE2-portable — bounded
  *     repetition, scoped `(?i:…)`, no backrefs). `&amp;`'s stage (with
  *     its numeric forms `&#38;`/`&#x26;`) is LAST, so `&amp;lt;`
  *     decodes to the literal text `&lt;`, never double-decodes to `<`.
  *   - [[NameMap]]/[[CpMap]]: constant lookup tables for the Spark-side
  *     single-pass native expression
  *     ([[graft.plans.DecodeHtmlEntitiesExpr]]), which is equivalent to
  *     the stage chain: each stage's matches are disjoint substrings of
  *     the ORIGINAL text (an entity contains no inner `&`), non-amp
  *     replacements never introduce `&`, and regexp_replace never
  *     rescans replaced text — so chain order is immaterial for non-amp
  *     stages and amp-last equals a left-to-right scan that does not
  *     rescan its output. ScaleSpec asserts the equivalence on
  *     adversarial entity soup.
  *
  * Numeric references OUTSIDE this table (`&#x1F4A9;`) and HTML5-only
  * names (`&notin;`) stay verbatim on both engines — a finite shared
  * table is what makes the oracle hash-exact; strays are rare in
  * post-extraction prose and harmless downstream.
  */
object HtmlEntities {

  /** HTMLlat1: U+00A0..U+00FF in code-point order. */
  private val Lat1Names: Seq[String] = Seq(
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
    "oslash", "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml"
  )

  /** HTMLsymbol: Greek, arrows, math, misc technical, suits. */
  private val SymbolNames: Seq[(String, Int)] = Seq(
    "fnof" -> 402,
    "Alpha" -> 913, "Beta" -> 914, "Gamma" -> 915, "Delta" -> 916,
    "Epsilon" -> 917, "Zeta" -> 918, "Eta" -> 919, "Theta" -> 920,
    "Iota" -> 921, "Kappa" -> 922, "Lambda" -> 923, "Mu" -> 924,
    "Nu" -> 925, "Xi" -> 926, "Omicron" -> 927, "Pi" -> 928,
    "Rho" -> 929, "Sigma" -> 931, "Tau" -> 932, "Upsilon" -> 933,
    "Phi" -> 934, "Chi" -> 935, "Psi" -> 936, "Omega" -> 937,
    "alpha" -> 945, "beta" -> 946, "gamma" -> 947, "delta" -> 948,
    "epsilon" -> 949, "zeta" -> 950, "eta" -> 951, "theta" -> 952,
    "iota" -> 953, "kappa" -> 954, "lambda" -> 955, "mu" -> 956,
    "nu" -> 957, "xi" -> 958, "omicron" -> 959, "pi" -> 960,
    "rho" -> 961, "sigmaf" -> 962, "sigma" -> 963, "tau" -> 964,
    "upsilon" -> 965, "phi" -> 966, "chi" -> 967, "psi" -> 968,
    "omega" -> 969, "thetasym" -> 977, "upsih" -> 978, "piv" -> 982,
    "bull" -> 8226, "hellip" -> 8230, "prime" -> 8242, "Prime" -> 8243,
    "oline" -> 8254, "frasl" -> 8260, "weierp" -> 8472, "image" -> 8465,
    "real" -> 8476, "trade" -> 8482, "alefsym" -> 8501,
    "larr" -> 8592, "uarr" -> 8593, "rarr" -> 8594, "darr" -> 8595,
    "harr" -> 8596, "crarr" -> 8629, "lArr" -> 8656, "uArr" -> 8657,
    "rArr" -> 8658, "dArr" -> 8659, "hArr" -> 8660,
    "forall" -> 8704, "part" -> 8706, "exist" -> 8707, "empty" -> 8709,
    "nabla" -> 8711, "isin" -> 8712, "notin" -> 8713, "ni" -> 8715,
    "prod" -> 8719, "sum" -> 8721, "minus" -> 8722, "lowast" -> 8727,
    "radic" -> 8730, "prop" -> 8733, "infin" -> 8734, "ang" -> 8736,
    "and" -> 8743, "or" -> 8744, "cap" -> 8745, "cup" -> 8746,
    "int" -> 8747, "there4" -> 8756, "sim" -> 8764, "cong" -> 8773,
    "asymp" -> 8776, "ne" -> 8800, "equiv" -> 8801, "le" -> 8804,
    "ge" -> 8805, "sub" -> 8834, "sup" -> 8835, "nsub" -> 8836,
    "sube" -> 8838, "supe" -> 8839, "oplus" -> 8853, "otimes" -> 8855,
    "perp" -> 8869, "sdot" -> 8901, "lceil" -> 8968, "rceil" -> 8969,
    "lfloor" -> 8970, "rfloor" -> 8971, "lang" -> 9001, "rang" -> 9002,
    "loz" -> 9674, "spades" -> 9824, "clubs" -> 9827, "hearts" -> 9829,
    "diams" -> 9830
  )

  /** HTMLspecial: markup chars, Latin Extended, typographic punctuation,
    * joiners/marks, euro — plus XML `apos`. */
  private val SpecialNames: Seq[(String, Int)] = Seq(
    "quot" -> 34, "amp" -> 38, "apos" -> 39, "lt" -> 60, "gt" -> 62,
    "OElig" -> 338, "oelig" -> 339, "Scaron" -> 352, "scaron" -> 353,
    "Yuml" -> 376, "circ" -> 710, "tilde" -> 732,
    "ensp" -> 8194, "emsp" -> 8195, "thinsp" -> 8201,
    "zwnj" -> 8204, "zwj" -> 8205, "lrm" -> 8206, "rlm" -> 8207,
    "ndash" -> 8211, "mdash" -> 8212,
    "lsquo" -> 8216, "rsquo" -> 8217, "sbquo" -> 8218,
    "ldquo" -> 8220, "rdquo" -> 8221, "bdquo" -> 8222,
    "dagger" -> 8224, "Dagger" -> 8225, "permil" -> 8240,
    "lsaquo" -> 8249, "rsaquo" -> 8250, "euro" -> 8364
  )

  /** All 253 (name, code point) pairs; code points are unique. */
  val Named: Seq[(String, Int)] =
    Lat1Names.zipWithIndex.map { case (n, i) => (n, 160 + i) } ++
      SymbolNames ++ SpecialNames

  require(Named.size == 253, s"entity table has ${Named.size} entries")
  require(
    Named.map(_._2).distinct.size == Named.size,
    "entity code points must be unique (duplicate numeric stages would be dead)"
  )

  /** nbsp normalizes to a PLAIN space (it reads as a space and the
    * whitespace-collapse stage that follows entity decode should fold it
    * with its neighbors); everything else decodes to its code point. All
    * table code points are BMP, so replacements are single chars. */
  def replacement(cp: Int): String =
    if (cp == 160) " " else cp.toChar.toString

  /** One RE2-portable stage per entity: name (case-sensitive) | decimal
    * with up to 24 leading zeros | hex, case-insensitive via a SCOPED
    * group (bare `(?i)` would leak into later alternatives). The
    * leading-zero bound is what makes the regex form and the scanner's
    * `z <= 24` check the same predicate. */
  private def stage(name: String, cp: Int): (String, String) =
    (
      s"&$name;|&#0{0,24}$cp;|(?i:&#x0{0,24}${Integer.toHexString(cp)};)",
      replacement(cp)
    )

  /** The shared (pattern, replacement) chain, `&amp;` last. */
  val Stages: Seq[(String, String)] =
    Named.filterNot(_._1 == "amp").map((stage _).tupled) :+ stage("amp", 38)

  /** name -> replacement, for the native scanner. */
  val NameMap: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    Named.foreach { case (n, cp) => m.put(n, replacement(cp)) }
    m
  }

  /** code point -> replacement, for the native scanner's numeric forms. */
  val CpMap: java.util.HashMap[Integer, String] = {
    val m = new java.util.HashMap[Integer, String]()
    Named.foreach { case (_, cp) => m.put(Int.box(cp), replacement(cp)) }
    m
  }
}
