package graft.functions

/** Pure text-analysis primitives for the training-data pipeline
  * operators: 64-bit FNV-1a, SimHash, rolling-hash fingerprints, and a
  * compact n-gram/stopword language identifier. Spark-free so they can
  * be unit-tested directly and wrapped as Catalyst expressions.
  */
object TextImpl {

  /** 64-bit FNV-1a — deterministic, engine-owned (independent of any
    * Spark/JVM hash so results are stable across versions).
    */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xFF)
      h *= 0x100000001B3L
      i += 1
    }
    h
  }

  def fnv1a64(s: String): Long = fnv1a64(s.getBytes("UTF-8"))

  /** 64-bit SimHash over a token multiset: per token, its fnv1a64 bits
    * vote +1/-1 per position; the sign vector forms the hash. Near-dup
    * docs ⇒ small Hamming distance.
    */
  def simhash64(tokens: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = fnv1a64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Polynomial rolling-hash fingerprint of a string (base 257 modulo
    * 2^61-1): order-sensitive document fingerprint, cheap to combine
    * incrementally — the "rolling hash" of SURVEY's text-analysis set.
    * Folds Unicode CODE POINTS (not UTF-16 units), so the value is a
    * property of the text itself and any engine that enumerates
    * codepoints (e.g. DuckDB's unicode(substr(s,i,1))) reproduces it.
    */
  def rollingFingerprint(s: String): Long = {
    val Mod = 2305843009213693951L // 2^61 - 1 (Mersenne)
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      // (h*257 + cp) mod 2^61-1 via 128-bit multiply: with
      // x = hi*2^64 + lo and 2^61 ≡ 1 (mod M), fold the >=2^61 part in
      val lo = h * 257L
      val hi = Math.multiplyHigh(h, 257L) // < 2^8 since h < 2^61
      var sum = (lo & Mod) + ((lo >>> 61) | (hi << 3)) + cp
      while (sum >= Mod) sum -= Mod
      h = sum
      i += Character.charCount(cp)
    }
    h
  }

  /** Quote-aware argv tokenization (`client/parser.c:34-107` BuildArgv
    * semantics): whitespace separates tokens; single or double quotes
    * group a token (quotes stripped); an unterminated quote runs to
    * end of input.
    */
  def argvTokenize(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var inTok = false
    def flush(): Unit = { if (inTok) { out += cur.toString; cur.clear(); inTok = false } }
    line.foreach { c =>
      if (quote != 0) {
        if (c == quote) quote = 0 else { cur.append(c); inTok = true }
      } else if (c == '"' || c == '\'') { quote = c; inTok = true }
      else if (c.isWhitespace) flush()
      else { cur.append(c); inTok = true }
    }
    flush()
    out.result()
  }

  /** Env-var path expansion (`server/client_session.c:632-639` is a
    * stub that copies input; the engine implements what it intends):
    * `$NAME` and `${NAME}` replaced from the given map; unknown vars
    * expand to empty, `$$` escapes a literal `$`.
    */
  def expandEnv(path: String, env: Map[String, String]): String = {
    val re = "\\$(\\$|\\{([A-Za-z_][A-Za-z0-9_]*)\\}|([A-Za-z_][A-Za-z0-9_]*))".r
    re.replaceAllIn(path, m =>
      scala.util.matching.Regex.quoteReplacement(
        if (m.group(1) == "$") "$"
        else env.getOrElse(Option(m.group(2)).getOrElse(m.group(3)), "")))
  }

  /** The compiled pretokenizer, built once per JVM for [[bpeEncode]]
    * — the encode path runs once per row inside a codegen'd
    * expression, so per-row work must be matcher creation only, never
    * Pattern compilation.
    */
  private val pretokenRegex: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(BpeVocab.pretokenPattern)

  /** Byte-level BPE encode under the frozen [[BpeVocab]] table:
    * pretokenize, then within each pretoken repeatedly merge the
    * lowest-rank adjacent pair (leftmost on rank ties). One-at-a-time
    * leftmost-min-rank merging is result-identical to the trainer's
    * merge-all-occurrences step: a pair involving a token created at
    * rank r can itself only have rank > r (it could not exist before
    * r), so remaining occurrences of the current min-rank pair always
    * stay ahead of anything a merge creates — the same invariant the
    * SQL oracle's one-splice-per-recursion replay relies on.
    */
  def bpeEncode(text: String): Array[Int] = {
    val m = pretokenRegex.matcher(text)
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    val lut = BpeVocab.rankLut
    while (m.find()) {
      val seq = scala.collection.mutable.ArrayBuffer[Int]()
      m.group().getBytes("UTF-8").foreach(b => seq += (b & 0xFF))
      var go = true
      while (go && seq.length > 1) {
        var bestRank = Int.MaxValue
        var pos = -1
        var i = 0
        while (i < seq.length - 1) {
          val r = lut((seq(i) << 10) | seq(i + 1))
          if (r >= 0 && r < bestRank) { bestRank = r; pos = i }
          i += 1
        }
        if (pos < 0) go = false
        else { seq(pos) = 256 + bestRank; seq.remove(pos + 1) }
      }
      out ++= seq
    }
    out.toArray
  }

  /** Tie-break precedence of the language identifier (earliest wins on
    * equal profile-match counts) — shared with the DuckDB oracle's
    * CASE chain.
    */
  val langOrder: Seq[String] = Seq("en", "de", "es", "fr")

  /** Stopword/char-class profiles for the language identifier. Small,
    * public-knowledge function-word lists (public so the oracle SQL
    * embeds the identical word sets).
    */
  val profiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
      "with", "as", "on", "be", "at", "by", "this", "have", "from", "or"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit",
      "auf", "für", "von", "den", "des", "im", "zu", "sich", "dem", "auch", "es"),
    "es" -> Set("el", "la", "los", "las", "de", "que", "y", "en", "un", "una",
      "es", "no", "por", "con", "para", "su", "se", "del", "al", "como"),
    "fr" -> Set("le", "la", "les", "des", "de", "et", "est", "un", "une", "du",
      "en", "que", "qui", "dans", "pour", "pas", "sur", "avec", "au", "ce"))

  /** Language ID: CJK-codepoint ratio decides zh; otherwise the
    * language whose function-word profile matches the most tokens;
    * "und" (undetermined) when nothing matches. The n-gram-heuristic
    * analog of honeycomb's dimension decode (a classifier over token
    * evidence), deterministic with a fixed tie order.
    */
  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var cjk = 0; var letters = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) {
        letters += 1
        val block = Character.UnicodeScript.of(c.toInt)
        if (block == Character.UnicodeScript.HAN || block == Character.UnicodeScript.HIRAGANA ||
          block == Character.UnicodeScript.KATAKANA || block == Character.UnicodeScript.HANGUL) cjk += 1
      }
      i += 1
    }
    // ratio > 0.3 as an exact integer cross-multiply — no double
    // rounding at the boundary, and any SQL engine reproduces it
    if (letters > 0 && cjk * 10 > letters * 3) return "zh"
    val tokens = text.toLowerCase.split("[^\\p{L}']+").filter(_.nonEmpty)
    if (tokens.isEmpty) return "und"
    val scores = langOrder.map { lang =>
      val prof = profiles(lang)
      lang -> tokens.count(prof.contains)
    }
    val (best, cnt) = scores.maxBy { case (l, c) => (c, -langOrder.indexOf(l)) }
    if (cnt == 0) "und" else best
  }
}
