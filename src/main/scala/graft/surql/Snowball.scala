package graft.surql

/** Snowball stemmers for the FTS analyzer filter chain (reference:
  * idx/ft/analyzer/filter.rs:36-53 maps `FILTERS snowball(<language>)` to
  * rust_stemmers, which embeds the generated Snowball algorithms; the
  * algorithms themselves are published at snowballstem.org and implemented
  * here from the public specification, not ported from generated code).
  *
  * English is the full Porter2 algorithm; German and Spanish implement
  * their published region/suffix-step algorithms (umlaut / accent
  * postludes included); the Scandinavian family (Swedish/Norwegian/
  * Danish) follows the published suffix-table algorithms; the Romance
  * family (Italian/Portuguese/French) implements the published RV/R1/R2
  * suffix-step algorithms with their preludes and postludes; Dutch,
  * Russian, Romanian, Hungarian and Finnish follow their published specs.
  *
  * Coverage caveats, stated exactly: Turkish ports the published
  * vowel-harmony / optional-buffer-letter suffix chains WITH the append_U
  * and ad/soyad reserved-word postludes; Greek follows the Ntais/Saroukos
  * step structure; Arabic implements the published step structure in full
  * (Checks1 flags, verb/noun suffix chains, the prefix family, pre/post
  * normalization, and — since r17 — the presentation-form prelude over
  * Forms-B U+FE70–FEFC, which equals the Unicode compatibility
  * decompositions of the block) reconstructed from the specification —
  * the remaining omissions are the Forms-A ligature block (U+FB50–FDC7,
  * outside the published table) and the rare doubled-hamza prefix rows
  * beyond the two common ones (their exact outputs are not
  * reconstructible offline with confidence); Tamil (r18) carries the
  * full empirically-reconstructed Damodharan pass structure — prefix
  * removal with fix_va_start, the speculative question-vowel strip, the
  * ும் clitic, sandhi plurals (incl. the ுங்கள் and ார்கள் rows),
  * doubling/sonorant-gated case endings, the tense person/marker tables
  * with among-longest-match-commit semantics, and the fix_endings
  * normalizations — verified word-for-word against a local
  * snowball-tamil oracle (PostgreSQL ts_lexize('tamil_stem', …), the
  * same upstream algorithm rust_stemmers embeds): 296 of 297 real-word
  * probes and all 57 SnowballWordVectorsSpec rows agree exactly (the
  * one miss is the compound பூங்காவில்; synthetic stem×suffix
  * concatenations agree at ~73% — invalid forms whose mechanical
  * treatment the oracle tables encode row-by-row). All 18 languages
  * reproduce the reference's own published analyzer vectors token for
  * token (SnowballConformanceSpec); Arabic/Tamil/Turkish carry 50+-word
  * step-coverage vectors (SnowballWordVectorsSpec); and r18 adds a
  * 1165-word oracle net across 17 languages (SnowballOracleSpec),
  * generated from PostgreSQL's snowball dictionaries — the same upstream
  * algorithms rust_stemmers embeds — which caught and fixed eight real
  * divergences (see docs/SWEEPS_r18.md).
  */
object Snowball {

  val supported: Set[String] =
    Set("english", "swedish", "norwegian", "danish", "german", "spanish",
      "italian", "portuguese", "french", "dutch", "russian", "romanian",
      "hungarian", "finnish", "turkish", "greek", "arabic", "tamil")

  /** ISO 639-1/639-3 aliases the reference's `snowball(<lang>)` filter
    * accepts alongside full names (idx/ft/analyzer/filter.rs tests:
    * en/eng, fr/fra, …). */
  private val aliases: Map[String, String] = Map(
    "en" -> "english", "eng" -> "english",
    "fr" -> "french", "fra" -> "french",
    "de" -> "german", "deu" -> "german",
    "es" -> "spanish", "spa" -> "spanish",
    "it" -> "italian", "ita" -> "italian",
    "pt" -> "portuguese", "por" -> "portuguese",
    "nl" -> "dutch", "nld" -> "dutch",
    "ru" -> "russian", "rus" -> "russian",
    "sv" -> "swedish", "swe" -> "swedish",
    "da" -> "danish", "dan" -> "danish",
    "no" -> "norwegian", "nor" -> "norwegian",
    "ar" -> "arabic", "ara" -> "arabic",
    "fi" -> "finnish", "fin" -> "finnish",
    "el" -> "greek", "ell" -> "greek",
    "hu" -> "hungarian", "hun" -> "hungarian",
    "ro" -> "romanian", "ron" -> "romanian",
    "ta" -> "tamil", "tam" -> "tamil",
    "tr" -> "turkish", "tur" -> "turkish")

  def stem(language: String, word: String): String = {
    val l0 = language.toLowerCase
    aliases.getOrElse(l0, l0) match {
      case "english"    => english(word)
      case "swedish"    => swedish(word)
      case "norwegian"  => norwegian(word)
      case "danish"     => danish(word)
      case "german"     => german(word)
      case "spanish"    => spanish(word)
      case "italian"    => italian(word)
      case "portuguese" => portuguese(word)
      case "french"     => french(word)
      case "dutch"      => dutch(word)
      case "russian"    => russian(word)
      case "romanian"   => romanian(word)
      case "hungarian"  => hungarian(word)
      case "finnish"    => finnish(word)
      case "turkish"    => turkish(word)
      case "greek"      => greek(word)
      case "arabic"     => arabic(word)
      case "tamil"      => tamil(word)
      case _            => word
    }
  }

  // ======================= English (Porter2) ==============================

  private val enVowels = "aeiouy".toSet
  private val enDoubles = Set("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
  private val liEnding = "cdeghkmnrt".toSet

  private val enExceptions1: Map[String, String] = Map(
    "skis" -> "ski", "skies" -> "sky", "dying" -> "die", "lying" -> "lie",
    "tying" -> "tie", "idly" -> "idl", "gently" -> "gentl", "ugly" -> "ugli",
    "early" -> "earli", "only" -> "onli", "singly" -> "singl",
    "sky" -> "sky", "news" -> "news", "howe" -> "howe", "atlas" -> "atlas",
    "cosmos" -> "cosmos", "bias" -> "bias", "andes" -> "andes")

  private val enExceptions2: Set[String] = Set(
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed")

  private def isVowel(c: Char): Boolean = enVowels.contains(c)

  /** R1/R2 start indexes. R1 = after the first non-vowel following a vowel
    * (special-cased for gener-/commun-/arsen-); R2 = the same within R1. */
  private def regions(w: String): (Int, Int) = {
    def regionAfter(from: Int): Int = {
      var i = from
      while (i < w.length && !isVowel(w(i))) i += 1
      while (i < w.length && isVowel(w(i))) i += 1
      if (i < w.length) i + 1 else w.length
    }
    val r1 =
      if (w.startsWith("gener") || w.startsWith("arsen")) 5
      else if (w.startsWith("commun")) 6
      else regionAfter(0)
    val r2 = regionAfter(r1)
    (r1, r2)
  }

  /** A short syllable: (vowel, non-vowel other than w/x/Y, preceded by a
    * non-vowel) or (vowel at position 0 followed by a non-vowel). */
  private def endsShortSyllable(w: String): Boolean = {
    val n = w.length
    if (n == 2) isVowel(w(0)) && !isVowel(w(1))
    else if (n >= 3) {
      val c = w(n - 1); val v = w(n - 2); val p = w(n - 3)
      isVowel(v) && !isVowel(c) && c != 'w' && c != 'x' && c != 'Y' && !isVowel(p)
    } else false
  }

  def english(word0: String): String = {
    var w = word0.toLowerCase
    if (w.startsWith("'")) w = w.substring(1)
    if (w.length <= 2) return w
    enExceptions1.get(w) match {
      case Some(s) => return s
      case scala.None =>
    }
    // mark consonant-y
    val sb = new StringBuilder(w)
    if (sb.nonEmpty && sb(0) == 'y') sb(0) = 'Y'
    var i = 1
    while (i < sb.length) {
      if (sb(i) == 'y' && isVowel(sb(i - 1))) sb(i) = 'Y'
      i += 1
    }
    w = sb.toString
    val (r1, r2) = regions(w)
    def inR1(suffLen: Int): Boolean = w.length - suffLen >= r1
    def inR2(suffLen: Int): Boolean = w.length - suffLen >= r2

    // ---- step 0: 's'' / 's / '
    if (w.endsWith("'s'")) w = w.dropRight(3)
    else if (w.endsWith("'s")) w = w.dropRight(2)
    else if (w.endsWith("'")) w = w.dropRight(1)

    // ---- step 1a
    if (w.endsWith("sses")) w = w.dropRight(2)
    else if (w.endsWith("ied") || w.endsWith("ies"))
      w = if (w.length > 4) w.dropRight(2) else w.dropRight(1)
    else if (w.endsWith("us") || w.endsWith("ss")) ()
    else if (w.endsWith("s")) {
      // delete if the preceding part contains a vowel not immediately
      // before the s
      val stem = w.dropRight(1)
      if (stem.length >= 2 && stem.dropRight(1).exists(isVowel))
        w = stem
    }
    if (enExceptions2.contains(w)) return w.replace('Y', 'y')

    // ---- step 1b
    def afterDeletion(): Unit = {
      if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz")) w += "e"
      else if (enDoubles.exists(w.endsWith)) w = w.dropRight(1)
      // short word: ends in a short syllable AND R1 is null
      else if (w.length <= r1 && endsShortSyllable(w)) w += "e"
    }
    if (w.endsWith("eedly")) { if (inR1(5)) w = w.dropRight(3) }
    else if (w.endsWith("eed")) { if (inR1(3)) w = w.dropRight(1) }
    else {
      val suff = Seq("ingly", "edly", "ing", "ed").find(w.endsWith)
      suff.foreach { s =>
        val stem = w.dropRight(s.length)
        if (stem.exists(isVowel)) { w = stem; afterDeletion() }
      }
    }

    // ---- step 1c: y/Y -> i when preceded by a non-vowel that is not the
    // first letter
    if (w.length > 2 && (w.endsWith("y") || w.endsWith("Y")) &&
        !isVowel(w(w.length - 2)))
      w = w.dropRight(1) + "i"

    // ---- step 2 (longest suffix, in R1)
    val step2: Seq[(String, String)] = Seq(
      "ization" -> "ize", "ational" -> "ate", "fulness" -> "ful",
      "ousness" -> "ous", "iveness" -> "ive", "tional" -> "tion",
      "biliti" -> "ble", "lessli" -> "less", "entli" -> "ent",
      "ation" -> "ate", "alism" -> "al", "aliti" -> "al", "ousli" -> "ous",
      "iviti" -> "ive", "fulli" -> "ful", "enci" -> "ence", "anci" -> "ance",
      "abli" -> "able", "izer" -> "ize", "ator" -> "ate", "alli" -> "al",
      "bli" -> "ble", "ogi" -> "og", "li" -> "")
    step2.find { case (s, _) => w.endsWith(s) }.foreach { case (s, r) =>
      if (inR1(s.length)) {
        if (s == "ogi") {
          if (w.length > 3 && w(w.length - 4) == 'l') w = w.dropRight(3) + r
        } else if (s == "li") {
          if (w.length > 2 && liEnding.contains(w(w.length - 3)))
            w = w.dropRight(2)
        } else w = w.dropRight(s.length) + r
      }
    }

    // ---- step 3 (longest suffix, in R1)
    val step3: Seq[(String, String)] = Seq(
      "ational" -> "ate", "tional" -> "tion", "alize" -> "al",
      "icate" -> "ic", "iciti" -> "ic", "ative" -> "", "ical" -> "ic",
      "ness" -> "", "ful" -> "")
    step3.find { case (s, _) => w.endsWith(s) }.foreach { case (s, r) =>
      if (inR1(s.length)) {
        if (s == "ative") { if (inR2(5)) w = w.dropRight(5) }
        else w = w.dropRight(s.length) + r
      }
    }

    // ---- step 4 (longest suffix, in R2)
    val step4 = Seq("ement", "ance", "ence", "able", "ible", "ment",
      "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize", "ion",
      "al", "er", "ic")
    step4.find(w.endsWith).foreach { s =>
      if (inR2(s.length)) {
        if (s == "ion") {
          if (w.length > 3 && (w(w.length - 4) == 's' || w(w.length - 4) == 't'))
            w = w.dropRight(3)
        } else w = w.dropRight(s.length)
      }
    }

    // ---- step 5
    if (w.endsWith("e")) {
      if (inR2(1)) w = w.dropRight(1)
      else if (inR1(1) && !endsShortSyllable(w.dropRight(1))) w = w.dropRight(1)
    } else if (w.endsWith("l")) {
      if (inR2(1) && w.length > 1 && w(w.length - 2) == 'l') w = w.dropRight(1)
    }

    w.replace('Y', 'y')
  }

  // ======================== German ========================================
  // snowballstem.org German stemmer: ß→ss prelude, u/y between vowels marked
  // consonant, R1 (min 3 letters before) / R2 regions, three suffix steps,
  // umlaut removal postlude.

  private val deVowels = "aeiouyäöü".toSet
  private val deSEnding = "bdfghklmnrt".toSet
  private val deStEnding = "bdfghklmnt".toSet

  def german(word0: String): String = {
    var w = word0.toLowerCase.replace("ß", "ss")
    if (w.length < 2) return w
    // mark u/y between vowels as consonants (U/Y)
    val sb = new StringBuilder(w)
    var i = 1
    while (i < sb.length - 1) {
      if ((sb(i) == 'u' || sb(i) == 'y') &&
          deVowels.contains(sb(i - 1)) && deVowels.contains(sb(i + 1)))
        sb(i) = sb(i).toUpper
      i += 1
    }
    w = sb.toString
    val r1 = scandR1(w, deVowels) // same min-3 adjustment as the spec
    val r2 = {
      // Same vowel set as the R1 scan: u/y marked as consonants (U/Y) by the
      // prelude must stay consonants here too (no .toLower).
      var j = r1
      while (j < w.length && !deVowels.contains(w(j))) j += 1
      while (j < w.length && deVowels.contains(w(j))) j += 1
      if (j < w.length) j + 1 else w.length
    }
    def inR1(n: Int) = w.length - n >= r1
    def inR2(n: Int) = w.length - n >= r2

    // ---- step 1
    val s1a = Seq("ern", "em", "er").find(s => w.endsWith(s) && inR1(s.length))
    val s1b = Seq("en", "es", "e").find(s => w.endsWith(s) && inR1(s.length))
    if (s1a.isDefined) w = w.dropRight(s1a.get.length)
    else if (s1b.isDefined) {
      w = w.dropRight(s1b.get.length)
      if (w.endsWith("niss")) w = w.dropRight(1)
    } else if (w.endsWith("s") && inR1(1) && w.length >= 2 &&
        deSEnding.contains(w(w.length - 2)))
      w = w.dropRight(1)

    // ---- step 2
    val s2 = Seq("est", "en", "er").find(s => w.endsWith(s) && inR1(s.length))
    if (s2.isDefined) w = w.dropRight(s2.get.length)
    else if (w.endsWith("st") && inR1(2) && w.length >= 6 &&
        deStEnding.contains(w(w.length - 3)))
      w = w.dropRight(2)

    // ---- step 3 (d-suffixes, in R2)
    if ((w.endsWith("end") || w.endsWith("ung")) && inR2(3)) {
      w = w.dropRight(3)
      if (w.endsWith("ig") && inR2(2) && // note: R2 of the SHORTENED word
          !(w.length >= 3 && w(w.length - 3) == 'e'))
        w = w.dropRight(2)
    } else if ((w.endsWith("isch") && inR2(4) &&
        !(w.length >= 5 && w(w.length - 5) == 'e'))) {
      w = w.dropRight(4)
    } else if ((w.endsWith("ig") || w.endsWith("ik")) && inR2(2) &&
        !(w.length >= 3 && w(w.length - 3) == 'e')) {
      w = w.dropRight(2)
    } else if ((w.endsWith("lich") || w.endsWith("heit")) && inR2(4)) {
      w = w.dropRight(4)
      if ((w.endsWith("er") || w.endsWith("en")) && inR1(2))
        w = w.dropRight(2)
    } else if (w.endsWith("keit") && inR2(4)) {
      w = w.dropRight(4)
      if (w.endsWith("lich") && inR2(4)) w = w.dropRight(4)
      else if (w.endsWith("ig") && inR2(2)) w = w.dropRight(2)
    }

    // postlude: unmark U/Y, strip umlauts
    w.map {
      case 'U' => 'u'; case 'Y' => 'y'
      case 'ä' => 'a'; case 'ö' => 'o'; case 'ü' => 'u'
      case c => c
    }
  }

  // ======================== Spanish =======================================
  // snowballstem.org Spanish stemmer: RV region, attached-pronoun step,
  // standard suffixes, y-verbs, verb suffixes, residual step, accent
  // removal postlude.

  private val esVowels = "aeiouáéíóúü".toSet

  private def esRV(w: String): Int = {
    // RV: if the second letter is a consonant, RV is after the next vowel;
    // if the first two letters are vowels, after the next consonant;
    // otherwise (consonant-vowel) after the third letter; default end.
    val n = w.length
    if (n < 3) return n
    def v(i: Int) = esVowels.contains(w(i))
    if (!v(1)) {
      var i = 2
      while (i < n && !v(i)) i += 1
      if (i < n) i + 1 else n
    } else if (v(0) && v(1)) {
      var i = 2
      while (i < n && v(i)) i += 1
      if (i < n) i + 1 else n
    } else 3
  }

  private def esR1R2(w: String): (Int, Int) = {
    def after(from: Int): Int = {
      var i = from
      while (i < w.length && !esVowels.contains(w(i))) i += 1
      while (i < w.length && esVowels.contains(w(i))) i += 1
      if (i < w.length) i + 1 else w.length
    }
    val r1 = after(0)
    (r1, after(r1))
  }

  private def esDeaccent(c: Char): Char = c match {
    case 'á' => 'a'; case 'é' => 'e'; case 'í' => 'i'
    case 'ó' => 'o'; case 'ú' => 'u'; case c0 => c0
  }

  def spanish(word0: String): String = {
    var w = word0.toLowerCase
    if (w.length < 3) return w.map(esDeaccent)
    val rvStart = esRV(w)
    val (r1, r2) = esR1R2(w)
    def inRV(n: Int) = w.length - n >= rvStart
    def inR1(n: Int) = w.length - n >= r1
    def inR2(n: Int) = w.length - n >= r2

    // ---- step 0: attached pronouns after a gerund/infinitive base in RV
    val pronouns = Seq("selas", "selos", "sela", "selo", "las", "les",
      "los", "nos", "me", "se", "la", "le", "lo")
    pronouns.find(w.endsWith).foreach { p =>
      val stem = w.dropRight(p.length)
      def baseInRV(b: String): Boolean =
        stem.endsWith(b) && (stem.length - b.length) >= rvStart
      val accented = Seq("ándo", "iéndo", "ár", "ér", "ír")
      val plain = Seq("ando", "iendo", "ar", "er", "ir")
      // Only the accent IN the matched suffix is removed (spec: "in which case
      // the accent is removed"); accents earlier in the word must survive so
      // later steps can still match accented suffixes like -ación.
      accented.find(baseInRV) match {
        case Some(b) => w = stem.dropRight(b.length) + b.map(esDeaccent)
        case None =>
          if (plain.exists(baseInRV) ||
              (stem.endsWith("uyendo") && (stem.length - 5) >= rvStart)) w = stem
      }
    }

    val n0 = w.length
    // ---- step 1: standard suffix removal (longest match wins; the groups
    // below are mutually exclusive by their endings)
    def drop(k: Int): Unit = w = w.dropRight(k)
    var did1 = true
    if (w.endsWith("amientos") && inR2(8)) drop(8)
    else if (w.endsWith("imientos") && inR2(8)) drop(8)
    else if (w.endsWith("amiento") && inR2(7)) drop(7)
    else if (w.endsWith("imiento") && inR2(7)) drop(7)
    else if (w.endsWith("log\u00edas") && inR2(6)) w = w.dropRight(6) + "log"
    else if (w.endsWith("log\u00eda") && inR2(5)) w = w.dropRight(5) + "log"
    else if (w.endsWith("uciones") && inR2(7)) w = w.dropRight(7) + "u"
    else if (w.endsWith("uci\u00f3n") && inR2(5)) w = w.dropRight(5) + "u"
    // encia(s) REPLACES with ente (spanish.sbl standard_suffix — r18
    // oracle sweep: resistencia → resistente → step3 → resistent, not
    // the bare delete's resist)
    else if (w.endsWith("encias") && inR2(6)) w = w.dropRight(6) + "ente"
    else if (w.endsWith("encia") && inR2(5)) w = w.dropRight(5) + "ente"
    else if (w.endsWith("amente") && inR1(6)) {
      drop(6)
      // preceded by iv (delete, then at), or by os/ic/ad
      if (w.endsWith("iv") && inR2(2)) {
        drop(2)
        if (w.endsWith("at") && inR2(2)) drop(2)
      } else Seq("os", "ic", "ad")
        .find(x => w.endsWith(x) && inR2(2)).foreach(_ => drop(2))
    }
    else if (w.endsWith("mente") && inR2(5)) {
      drop(5)
      Seq("ante", "able", "ible")
        .find(x => w.endsWith(x) && inR2(4)).foreach(_ => drop(4))
    }
    else if (w.endsWith("idades") && inR2(6)) {
      drop(6)
      Seq("abil", "ic", "iv")
        .find(x => w.endsWith(x) && inR2(x.length)).foreach(x => drop(x.length))
    }
    else if (w.endsWith("idad") && inR2(4)) {
      drop(4)
      Seq("abil", "ic", "iv")
        .find(x => w.endsWith(x) && inR2(x.length)).foreach(x => drop(x.length))
    }
    else if (Seq("ivas", "ivos").exists(s => w.endsWith(s) && inR2(4))) {
      drop(4)
      if (w.endsWith("at") && inR2(2)) drop(2)
    }
    else if (Seq("iva", "ivo").exists(s => w.endsWith(s) && inR2(3))) {
      drop(3)
      if (w.endsWith("at") && inR2(2)) drop(2)
    }
    else {
      val grpIc = Seq("aciones", "adoras", "adores", "ancias", "adora",
        "aci\u00f3n", "antes", "ancia", "ador", "ante", "anza", "anzas")
      val grpPlain = Seq("ibles", "istas", "ables", "ismos", "anzas",
        "ible", "ista", "able", "ismo", "osas", "osos", "osa", "oso",
        "\u00edas")
      grpIc.sortBy(-_.length).find(s => w.endsWith(s) && inR2(s.length)) match {
        case Some(s) =>
          drop(s.length)
          if (w.endsWith("ic") && inR2(2)) drop(2)
        case scala.None =>
          grpPlain.sortBy(-_.length).find(s => w.endsWith(s) && inR2(s.length)) match {
            case Some(s) => drop(s.length)
            case scala.None => did1 = false
          }
      }
    }

    // ---- step 2 (only when step 1 removed nothing)
    if (!did1 || w.length == n0) {
      // 2a: y-verb suffixes in RV preceded by u
      val ySuf = Seq("yeron", "yendo", "yamos", "yais", "yan", "yen",
        "yas", "yes", "ya", "ye", "yo", "y\u00f3").sortBy(-_.length)
      val did2a = ySuf.exists { s =>
        if (w.endsWith(s) && inRV(s.length) &&
            w.length > s.length && w(w.length - s.length - 1) == 'u') {
          drop(s.length); true
        } else false
      }
      if (!did2a) {
        // 2b: verb suffixes in RV; en/es/\u00e9is/emos additionally strip a
        // preceding gu's u
        val guGroup = Set("en", "es", "\u00e9is", "emos")
        val verbs = Seq("ar\u00edamos", "er\u00edamos", "ir\u00edamos",
          "i\u00e9ramos", "i\u00e9semos", "ar\u00edais", "aremos",
          "er\u00edais", "eremos", "ir\u00edais", "iremos", "ierais",
          "ieseis", "asteis", "isteis", "\u00e1bamos", "\u00e1ramos",
          "\u00e1semos", "ar\u00edan", "ar\u00edas", "ar\u00e9is",
          "er\u00edan", "er\u00edas", "er\u00e9is", "ir\u00edan",
          "ir\u00edas", "ir\u00e9is", "ieran", "iesen", "ieron", "iendo",
          "ieras", "ieses", "abais", "arais", "aseis", "\u00edamos",
          "emos", "ar\u00e1n", "ar\u00e1s", "ar\u00eda", "er\u00e1n",
          "er\u00e1s", "er\u00eda", "ir\u00e1n", "ir\u00e1s",
          "ir\u00eda", "iera", "iese", "aste", "iste", "aban", "aran",
          "asen", "aron", "ando", "abas", "adas", "idas", "aras", "ases",
          "\u00edais", "ados", "idos", "amos", "imos", "ar\u00e1",
          "ar\u00e9", "er\u00e1", "er\u00e9", "ir\u00e1", "ir\u00e9",
          "aba", "ada", "ida", "ara", "ase", "\u00edan", "ado", "ido",
          "\u00edas", "\u00e1is", "\u00e9is", "\u00eda", "ad", "ed",
          "id", "an", "i\u00f3", "ar", "er", "ir", "as", "\u00eds",
          "\u00e1s", "en", "es").sortBy(-_.length)
        verbs.find(s => w.endsWith(s) && inRV(s.length)).foreach { s =>
          drop(s.length)
          if (guGroup(s) && w.endsWith("gu")) drop(1)
        }
      }
    }

    // ---- step 3: residual suffix in RV
    Seq("os", "a", "o", "\u00e1", "\u00ed", "\u00f3")
      .find(s => w.endsWith(s) && inRV(s.length)) match {
      case Some(s) => drop(s.length)
      case scala.None =>
        if ((w.endsWith("e") || w.endsWith("\u00e9")) && inRV(1)) {
          drop(1)
          // a 'u' after 'g' also drops when the u is in RV (gui\u00e9 -> gui)
          if (w.endsWith("gu") && w.length - 1 >= rvStart) drop(1)
        }
    }

    w.map(esDeaccent)
  }


  // ================== Scandinavian family ==================================
  // Shared shape (snowballstem.org): R1 after the first non-vowel following
  // a vowel, adjusted so at least 3 letters precede it; step 1 strips the
  // longest listed suffix in R1 (or s after a valid s-ending); step 2 trims
  // one letter after a listed consonant pair; step 3 is per-language.

  private def scandR1(w: String, vowels: Set[Char]): Int = {
    var i = 0
    while (i < w.length && !vowels.contains(w(i))) i += 1
    while (i < w.length && vowels.contains(w(i))) i += 1
    val r = if (i < w.length) i + 1 else w.length
    Math.max(r, Math.min(3, w.length))
  }

  private def longestIn(w: String, r1: Int, suffixes: Seq[String]): Option[String] =
    suffixes.sortBy(-_.length).find(s => w.endsWith(s) && w.length - s.length >= r1)

  // ---- Swedish ----
  private val svVowels = "aeiouyäåö".toSet
  private val svStep1 = Seq("heterna", "hetens", "arnas", "ernas", "ornas",
    "anden", "heten", "heter", "arens", "andes", "arna", "erna", "orna",
    "ande", "arne", "aste", "aren", "ades", "erns", "ade", "are", "ern",
    "ens", "het", "ast", "andet", "ad", "en", "ar", "er", "or", "as",
    "es", "at", "a", "e")
  private val svSEnding = "bcdfghjklmnoprtvy".toSet

  def swedish(word0: String): String = {
    var w = word0.toLowerCase
    if (w.length < 3) return w
    val r1 = scandR1(w, svVowels)
    longestIn(w, r1, svStep1) match {
      case Some(s) => w = w.dropRight(s.length)
      case scala.None =>
        if (w.endsWith("s") && w.length - 1 >= r1 &&
            w.length >= 2 && svSEnding.contains(w(w.length - 2)))
          w = w.dropRight(1)
    }
    // step 2: dd gd nn dt gt kt tt → drop last letter (pair in R1)
    if (Seq("dd", "gd", "nn", "dt", "gt", "kt", "tt")
        .exists(p => w.endsWith(p) && w.length - 2 >= r1))
      w = w.dropRight(1)
    // step 3 (in R1): lig/ig/els delete; fullt → full; löst → lös
    if (w.endsWith("fullt") && w.length - 5 >= r1) w = w.dropRight(1)
    else if (w.endsWith("löst") && w.length - 4 >= r1) w = w.dropRight(1)
    else longestIn(w, r1, Seq("lig", "els", "ig")).foreach(s => w = w.dropRight(s.length))
    w
  }

  // ---- Norwegian ----
  private val noVowels = "aeiouyæåø".toSet
  private val noStep1 = Seq("hetenes", "hetene", "hetens", "heten", "heter",
    "endes", "edes", "enes", "erte", "ande", "ende", "ene", "ane",
    "ets", "het", "ast", "ens", "ers", "ede", "ert", "en", "ar", "er",
    "as", "es", "et", "a", "e")

  def norwegian(word0: String): String = {
    var w = word0.toLowerCase
    if (w.length < 3) return w
    val r1 = scandR1(w, noVowels)
    longestIn(w, r1, noStep1) match {
      case Some(s) =>
        // ert/erte → er
        if (s == "erte" || s == "ert") w = w.dropRight(s.length) + "er"
        else w = w.dropRight(s.length)
      case scala.None =>
        // s: valid s-ending b c d f g h j l m n o p r t v y z, or k not
        // after a vowel
        if (w.endsWith("s") && w.length - 1 >= r1 && w.length >= 2) {
          val prev = w(w.length - 2)
          val ok = "bcdfghjlmnoprtvyz".contains(prev) ||
            (prev == 'k' && w.length >= 3 && !noVowels.contains(w(w.length - 3)))
          if (ok) w = w.dropRight(1)
        }
    }
    // step 2: dt vt → drop t (pair in R1)
    if ((w.endsWith("dt") || w.endsWith("vt")) && w.length - 2 >= r1)
      w = w.dropRight(1)
    // step 3 (in R1): delete
    longestIn(w, r1, Seq("hetslov", "eleg", "elov", "slov", "elig", "leg",
      "eig", "lig", "els", "lov", "ig")).foreach(s => w = w.dropRight(s.length))
    w
  }

  // ---- Danish ----
  private val daVowels = "aeiouyæåø".toSet
  private val daStep1 = Seq("erendes", "erende", "hedens", "ethed", "erede",
    "heden", "heder", "erets", "erens", "endes", "ernes", "eren", "erer",
    "heds", "enes", "eres", "erne", "ende", "ered", "eret", "ene", "ere",
    "ens", "ers", "ets", "hed", "en", "er", "es", "et", "e")
  private val daSEnding = "abcdfghjklmnoprtvyzå".toSet

  def danish(word0: String): String = {
    var w = word0.toLowerCase
    if (w.length < 3) return w
    val r1 = scandR1(w, daVowels)
    longestIn(w, r1, daStep1) match {
      case Some(s) => w = w.dropRight(s.length)
      case scala.None =>
        if (w.endsWith("s") && w.length - 1 >= r1 && w.length >= 2 &&
            daSEnding.contains(w(w.length - 2)))
          w = w.dropRight(1)
    }
    // step 2: gd dt gt kt → drop last letter (pair in R1)
    def undoubleT(): Unit =
      if (Seq("gd", "dt", "gt", "kt")
          .exists(p => w.endsWith(p) && w.length - 2 >= r1))
        w = w.dropRight(1)
    undoubleT()
    // step 3: igst → drop st; lig/ig/els/elig → delete (in R1) then repeat
    // step 2; løst → løs
    if (w.endsWith("igst")) w = w.dropRight(2)
    longestIn(w, r1, Seq("elig", "lig", "els", "ig")) match {
      case Some(s) => w = w.dropRight(s.length); undoubleT()
      case scala.None => if (w.endsWith("løst")) w = w.dropRight(1)
    }
    // step 4 (undouble): a trailing double non-vowel drops one letter when
    // the REMOVED letter is in R1 (danish.sbl setlimit: lille → lil)
    if (w.length >= 2 && w.length - 1 >= r1) {
      val c = w(w.length - 1)
      if (c == w(w.length - 2) && !daVowels.contains(c)) w = w.dropRight(1)
    }
    w
  }

  // ======================= Romance shared helpers =========================
  // RV as defined for Spanish/Italian/Portuguese (snowballstem.org): second
  // letter consonant → after the next vowel; two leading vowels → after the
  // next consonant; otherwise (consonant-vowel) after the third letter.
  private def romRV(w: String, vowels: Set[Char]): Int = {
    val n = w.length
    if (n < 3) return n
    def v(i: Int) = vowels.contains(w(i))
    if (!v(1)) {
      var i = 2
      while (i < n && !v(i)) i += 1
      if (i < n) i + 1 else n
    } else if (v(0) && v(1)) {
      var i = 2
      while (i < n && v(i)) i += 1
      if (i < n) i + 1 else n
    } else 3
  }

  private def romR1R2(w: String, vowels: Set[Char]): (Int, Int) = {
    def after(from: Int): Int = {
      var i = from
      while (i < w.length && !vowels.contains(w(i))) i += 1
      while (i < w.length && vowels.contains(w(i))) i += 1
      if (i < w.length) i + 1 else w.length
    }
    val r1 = after(0)
    (r1, after(r1))
  }

  /** Longest suffix that both matches and fits inside the region starting
    * at `limit` — the semantics of a Snowball `setlimit … among` (shorter
    * suffixes ARE tried when a longer one starts before the region). */
  private def longestInRegion(w: String, limit: Int, sufs: Seq[String]): Option[String] =
    sufs.sortBy(-_.length).find(s => w.endsWith(s) && w.length - s.length >= limit)

  // ======================= Italian ========================================
  // snowballstem.org/algorithms/italian/stemmer.html; the step-1 among is
  // strict longest-match (a failed region condition does NOT fall back to a
  // shorter suffix), while steps 0/2 are region-limited (setlimit to RV).

  private val itVowels = "aeiouàèìòù".toSet

  private val itVerbSuffixes = Seq(
    "erebbero", "irebbero", "assero", "assimo", "eranno", "erebbe", "eremmo",
    "ereste", "eresti", "essero", "iranno", "irebbe", "iremmo", "ireste",
    "iresti", "iscano", "iscono", "issero", "arono", "avamo", "avano",
    "avate", "eremo", "erete", "erono", "evamo", "evano", "evate", "iremo",
    "irete", "irono", "ivamo", "ivano", "ivate", "ammo", "ando", "asse",
    "assi", "emmo", "enda", "ende", "endi", "endo", "erai", "erei", "iamo",
    "immo", "irai", "irei", "isca", "isce", "isci", "isco", "ano", "are",
    "ata", "ate", "ati", "ato", "ava", "avi", "avo", "erà", "ere", "erò",
    "ete", "eva", "evi", "evo", "irà", "ire", "irò", "ita", "ite", "iti",
    "ito", "iva", "ivi", "ivo", "ono", "uta", "ute", "uti", "uto", "ar",
    "ir")

  def italian(word0: String): String = {
    var w = word0.toLowerCase.map {
      case 'á' => 'à'; case 'é' => 'è'; case 'í' => 'ì'
      case 'ó' => 'ò'; case 'ú' => 'ù'; case c => c
    }
    if (w.length < 3) return w
    // prelude: u after q, and u/i between vowels, marked as consonants
    val sb = new StringBuilder(w)
    var i = 1
    while (i < sb.length) {
      val c = sb(i)
      if (c == 'u' && sb(i - 1) == 'q') sb(i) = 'U'
      else if ((c == 'u' || c == 'i') && i + 1 < sb.length &&
               itVowels.contains(sb(i - 1)) && itVowels.contains(sb(i + 1)))
        sb(i) = (c - 32).toChar
      i += 1
    }
    w = sb.toString
    val rv = romRV(w, itVowels)
    val (r1, r2) = romR1R2(w, itVowels)
    def inRV(n: Int) = w.length - n >= rv
    def inR1(n: Int) = w.length - n >= r1
    def inR2(n: Int) = w.length - n >= r2

    // ---- step 0: attached pronoun after a gerund/infinitive base in RV
    val pronouns = Seq("gliela", "gliele", "glieli", "glielo", "gliene",
      "sene", "mela", "mele", "meli", "melo", "mene", "tela", "tele", "teli",
      "telo", "tene", "cela", "cele", "celi", "celo", "cene", "vela", "vele",
      "veli", "velo", "vene", "gli", "ci", "la", "le", "li", "lo", "mi",
      "ne", "si", "ti", "vi").sortBy(-_.length)
    pronouns.find(w.endsWith).foreach { p =>
      val stem = w.dropRight(p.length)
      def baseRV(b: String) = stem.endsWith(b) && stem.length - b.length >= rv
      if (Seq("ando", "endo").exists(baseRV)) w = stem
      else if (Seq("ar", "er", "ir").exists(baseRV)) w = stem + "e"
    }

    // ---- step 1: standard suffixes, strict longest match
    var did1 = false
    def drop(k: Int): Unit = { w = w.dropRight(k); did1 = true }
    val step1All = Seq(
      "amente", "atrice", "atrici", "azione", "azioni", "uzione", "uzioni",
      "usione", "usioni", "amento", "amenti", "imento", "imenti",
      "abile", "abili", "ibile", "ibili", "mente", "atore", "atori",
      "logia", "logie",
      "anza", "anze", "iche", "ichi", "ismo", "ismi", "ista", "iste",
      "isti", "istà", "istè", "istì", "ante", "anti", "enza", "enze",
      "ico", "ici", "ica", "ice", "oso", "osi", "osa", "ose", "ità",
      "ivo", "ivi", "iva", "ive").sortBy(-_.length)
    step1All.find(w.endsWith).foreach {
      case s @ "amente" =>
        if (inR1(6)) {
          drop(6)
          if (w.endsWith("iv") && inR2(2)) {
            drop(2)
            if (w.endsWith("at") && inR2(2)) drop(2)
          } else Seq("abil", "os", "ic")
            .find(x => w.endsWith(x) && inR2(x.length)).foreach(x => drop(x.length))
        }
      case s @ ("azione" | "azioni" | "atore" | "atori") =>
        if (inR2(s.length)) {
          drop(s.length)
          if (w.endsWith("ic") && inR2(2)) drop(2)
        }
      case s @ ("logia" | "logie") =>
        if (inR2(s.length)) { w = w.dropRight(s.length) + "log"; did1 = true }
      case s @ ("uzione" | "uzioni" | "usione" | "usioni") =>
        if (inR2(s.length)) { w = w.dropRight(s.length) + "u"; did1 = true }
      case s @ ("enza" | "enze") =>
        if (inR2(s.length)) { w = w.dropRight(s.length) + "ente"; did1 = true }
      case s @ ("amento" | "amenti" | "imento" | "imenti") =>
        if (inRV(s.length)) drop(s.length)
      case s @ "ità" =>
        if (inR2(3)) {
          drop(3)
          Seq("abil", "ic", "iv")
            .find(x => w.endsWith(x) && inR2(x.length)).foreach(x => drop(x.length))
        }
      case s @ ("ivo" | "ivi" | "iva" | "ive") =>
        if (inR2(3)) {
          drop(3)
          if (w.endsWith("at") && inR2(2)) {
            drop(2)
            if (w.endsWith("ic") && inR2(2)) drop(2)
          }
        }
      case s => // plain delete-if-R2 group
        if (inR2(s.length)) drop(s.length)
    }

    // ---- step 2 (only when step 1 removed nothing): verb suffixes in RV
    if (!did1)
      longestInRegion(w, rv, itVerbSuffixes)
        .foreach(s => w = w.dropRight(s.length))

    // ---- step 3a: final vowel (and a preceding i) in RV
    if (w.nonEmpty && "aeioàèìò".contains(w.last) && inRV(1)) {
      w = w.dropRight(1)
      if (w.nonEmpty && w.last == 'i' && inRV(1)) w = w.dropRight(1)
    }
    // ---- step 3b: ch/gh → c/g in RV
    if ((w.endsWith("ch") || w.endsWith("gh")) && inRV(2)) w = w.dropRight(1)
    w.toLowerCase
  }

  // ======================= Portuguese =====================================
  // snowballstem.org/algorithms/portuguese/stemmer.html; nasal vowels travel
  // as two-char markers (ã → a~) through the steps, restored at the end.

  private val ptVowels = "aeiouáéíóúâêô".toSet

  private val ptVerbSuffixes = Seq(
    "aríamos", "eríamos", "iríamos", "ássemos", "êssemos", "íssemos",
    "aríeis", "eríeis", "iríeis", "ásseis", "ésseis", "ísseis", "áramos",
    "éramos", "íramos", "ávamos", "aremos", "eremos", "iremos", "ariam",
    "eriam", "iriam", "assem", "essem", "issem", "ara~o", "era~o", "ira~o",
    "arias", "erias", "irias", "ardes", "erdes", "irdes", "asses", "esses",
    "isses", "astes", "estes", "istes", "áreis", "areis", "éreis", "ereis",
    "íreis", "ireis", "áveis", "íamos", "armos", "ermos", "irmos",
    "aria", "eria", "iria", "asse", "esse", "isse", "aste", "este", "iste",
    "arei", "erei", "irei", "aram", "eram", "iram", "avam", "arem", "erem",
    "irem", "ando", "endo", "indo", "adas", "idas", "arás", "aras", "erás",
    "eras", "irás", "avas", "ares", "eres", "ires", "íeis", "ados", "idos",
    "ámos", "amos", "emos", "imos", "iras",
    "ada", "ida", "ará", "ara", "erá", "era", "irá", "ava", "iam", "ado",
    "ido", "ias", "ais", "eis", "ira", "ia", "ei", "am", "em", "ar", "er",
    "ir", "as", "es", "is", "eu", "iu", "ou")

  def portuguese(word0: String): String = {
    var w = word0.toLowerCase
      .replace("ã", "a~").replace("õ", "o~")
    if (w.length < 3) return w.replace("a~", "ã").replace("o~", "õ")
    val rv = romRV(w, ptVowels)
    val (r1, r2) = romR1R2(w, ptVowels)
    def inRV(n: Int) = w.length - n >= rv
    def inR1(n: Int) = w.length - n >= r1
    def inR2(n: Int) = w.length - n >= r2

    val n0 = w
    // ---- step 1: standard suffixes, strict longest match
    var did1 = false
    def drop(k: Int): Unit = { w = w.dropRight(k); did1 = true }
    val step1All = Seq(
      "amentos", "imentos", "uço~es", "amento", "imento", "adoras",
      // NO 'âncias': the published among lists only the singular ância —
      // importâncias falls through to the verb step's 'ias' (r18 oracle)
      "adores", "aço~es", "logias", "ências", "amente", "idades",
      "ismos", "istas", "adora", "aça~o", "antes", "ância", "logia",
      "uça~o", "ência", "mente", "idade", "ezas", "icos", "icas", "ismo",
      "ável", "ível", "ista", "osos", "osas", "ador", "ante", "ivas",
      "ivos", "iras", "eza", "ico", "ica", "oso", "osa", "iva", "ivo",
      "ira").sortBy(-_.length)
    step1All.find(w.endsWith).foreach {
      case s @ ("logia" | "logias") =>
        if (inR2(s.length)) { w = w.dropRight(s.length) + "log"; did1 = true }
      case s @ ("uça~o" | "uço~es") =>
        if (inR2(s.length)) { w = w.dropRight(s.length) + "u"; did1 = true }
      case s @ ("ência" | "ências") =>
        if (inR2(s.length)) { w = w.dropRight(s.length) + "ente"; did1 = true }
      case s @ "amente" =>
        if (inR1(6)) {
          drop(6)
          if (w.endsWith("iv") && inR2(2)) {
            drop(2)
            if (w.endsWith("at") && inR2(2)) drop(2)
          } else Seq("os", "ic", "ad")
            .find(x => w.endsWith(x) && inR2(2)).foreach(_ => drop(2))
        }
      case s @ "mente" =>
        if (inR2(5)) {
          drop(5)
          Seq("ante", "avel", "ível")
            .find(x => w.endsWith(x) && inR2(4)).foreach(_ => drop(4))
        }
      case s @ ("idade" | "idades") =>
        if (inR2(s.length)) {
          drop(s.length)
          Seq("abil", "ic", "iv")
            .find(x => w.endsWith(x) && inR2(x.length))
            .foreach(x => drop(x.length))
        }
      case s @ ("iva" | "ivo" | "ivas" | "ivos") =>
        if (inR2(s.length)) {
          drop(s.length)
          if (w.endsWith("at") && inR2(2)) drop(2)
        }
      case s @ ("ira" | "iras") =>
        if (inRV(s.length) && w.length > s.length &&
            w(w.length - s.length - 1) == 'e') {
          w = w.dropRight(s.length) + "ir"; did1 = true
        }
      case s => // plain delete-if-R2 group
        if (inR2(s.length)) drop(s.length)
    }

    // ---- step 2 (only when step 1 removed nothing): verb suffixes in RV
    var did2 = false
    if (!did1)
      longestInRegion(w, rv, ptVerbSuffixes).foreach { s =>
        w = w.dropRight(s.length); did2 = true
      }

    if (did1 || did2) {
      // ---- step 3: ci → c (final i in RV preceded by c)
      if (w.endsWith("ci") && inRV(1)) w = w.dropRight(1)
    } else {
      // ---- step 4: residual suffix in RV
      longestInRegion(w, rv, Seq("os", "a", "i", "o", "á", "í", "ó"))
        .foreach(s => w = w.dropRight(s.length))
    }
    // ---- step 5: final e/é/ê in RV, with gu/ci contraction; ç → c
    if (w.nonEmpty && "eéê".contains(w.last) && inRV(1)) {
      w = w.dropRight(1)
      if ((w.endsWith("gu") || w.endsWith("ci")) && inRV(1)) w = w.dropRight(1)
    } else if (w.endsWith("ç")) w = w.dropRight(1) + "c"
    w.replace("a~", "ã").replace("o~", "õ")
  }

  // ======================= French =========================================
  // snowballstem.org/algorithms/french/stemmer.html (classic revision — the
  // one rust_stemmers embeds). Marked U/I/Y travel as consonants.

  private val frVowels = "aeiouyâàëéêèïîôûù".toSet

  def french(word0: String): String = {
    var w = word0.toLowerCase
    if (w.length < 3) return w
    // prelude: u/i between vowels → U/I; y next to a vowel → Y; qu → qU
    val sb = new StringBuilder(w)
    var i = 0
    while (i < sb.length) {
      val c = sb(i)
      def v(j: Int) = j >= 0 && j < sb.length && frVowels.contains(sb(j))
      if ((c == 'u' || c == 'i') && v(i - 1) && v(i + 1)) sb(i) = (c - 32).toChar
      else if (c == 'u' && i > 0 && sb(i - 1) == 'q') sb(i) = 'U'
      else if (c == 'y' && (v(i - 1) || v(i + 1))) sb(i) = 'Y'
      i += 1
    }
    w = sb.toString
    // RV: two leading vowels → after 3rd letter; par/col/tap → after 3rd;
    // else after the first vowel not at the start
    val rv = {
      def v(j: Int) = frVowels.contains(w(j))
      if (w.length >= 3 && ((v(0) && v(1)) ||
          Seq("par", "col", "tap").exists(w.startsWith))) 3
      else {
        var j = 1
        while (j < w.length && !v(j)) j += 1
        if (j < w.length) j + 1 else w.length
      }
    }
    val (r1, r2) = romR1R2(w, frVowels)
    def inRV(n: Int) = w.length - n >= rv
    def inR1(n: Int) = w.length - n >= r1
    def inR2(n: Int) = w.length - n >= r2

    // ---- step 1: standard suffixes, strict longest match
    var did1 = false
    var mentFound = false
    def drop(k: Int): Unit = { w = w.dropRight(k); did1 = true }
    def repl(k: Int, r: String): Unit = { w = w.dropRight(k) + r; did1 = true }
    val step1All = Seq(
      "issements", "issement", "atrices", "amment", "emment",
      "atrice", "ateurs", "ations", "logies", "usions", "utions", "ements",
      "ances", "iqUes", "ismes", "ables", "istes", "ateur", "ation", "logie",
      "usion", "ution", "ences", "ement", "euses", "ments", "ance", "iqUe",
      "isme", "able", "iste", "ence", "ités", "ives", "eaux", "euse",
      "ment", "eux", "ité", "ive", "ifs", "aux", "if").sortBy(-_.length)
    step1All.find(w.endsWith).foreach {
      case s @ ("ance" | "iqUe" | "isme" | "able" | "iste" | "eux" |
                "ances" | "iqUes" | "ismes" | "ables" | "istes") =>
        if (inR2(s.length)) drop(s.length)
      case s @ ("atrice" | "ateur" | "ation" | "atrices" | "ateurs" | "ations") =>
        if (inR2(s.length)) {
          drop(s.length)
          if (w.endsWith("ic")) {
            if (inR2(2)) drop(2) else { w = w.dropRight(2) + "iqU"; did1 = true }
          }
        }
      case s @ ("logie" | "logies") =>
        if (inR2(s.length)) repl(s.length, "log")
      case s @ ("usion" | "ution" | "usions" | "utions") =>
        if (inR2(s.length)) repl(s.length, "u")
      case s @ ("ence" | "ences") =>
        if (inR2(s.length)) repl(s.length, "ent")
      case s @ ("ement" | "ements") =>
        if (inRV(s.length)) {
          drop(s.length)
          if (w.endsWith("iv") && inR2(2)) {
            drop(2)
            if (w.endsWith("at") && inR2(2)) drop(2)
          } else if (w.endsWith("eus")) {
            if (inR2(3)) drop(3)
            else if (inR1(3)) { w = w.dropRight(3) + "eux"; did1 = true }
          } else if ((w.endsWith("abl") || w.endsWith("iqU")) && inR2(3)) drop(3)
          else if ((w.endsWith("ièr") || w.endsWith("Ièr")) && inRV(3))
            repl(3, "i")
        }
      case s @ ("ité" | "ités") =>
        if (inR2(s.length)) {
          drop(s.length)
          if (w.endsWith("abil")) {
            if (inR2(4)) drop(4) else { w = w.dropRight(4) + "abl"; did1 = true }
          } else if (w.endsWith("ic")) {
            if (inR2(2)) drop(2) else { w = w.dropRight(2) + "iqU"; did1 = true }
          } else if (w.endsWith("iv") && inR2(2)) drop(2)
        }
      case s @ ("if" | "ive" | "ifs" | "ives") =>
        if (inR2(s.length)) {
          drop(s.length)
          if (w.endsWith("at") && inR2(2)) {
            drop(2)
            if (w.endsWith("ic")) {
              if (inR2(2)) drop(2) else { w = w.dropRight(2) + "iqU"; did1 = true }
            }
          }
        }
      case "eaux" => repl(4, "eau")
      case "aux" => if (inR1(3)) repl(3, "al")
      case s @ ("euse" | "euses") =>
        if (inR2(s.length)) drop(s.length)
        else if (inR1(s.length)) repl(s.length, "eux")
      case s @ ("issement" | "issements") =>
        if (inR1(s.length) && w.length > s.length &&
            !frVowels.contains(w(w.length - s.length - 1))) drop(s.length)
      case "amment" => if (inRV(6)) { w = w.dropRight(6) + "ant"; mentFound = true }
      case "emment" => if (inRV(6)) { w = w.dropRight(6) + "ent"; mentFound = true }
      case s @ ("ment" | "ments") =>
        if (w.length > s.length && inRV(s.length + 1) &&
            frVowels.contains(w(w.length - s.length - 1))) {
          w = w.dropRight(s.length); mentFound = true
        }
      case _ => ()
    }

    // ---- steps 2a/2b: verb suffixes (only if step 1 left the word alone,
    // or removed one of the ment endings), confined to RV
    var did2 = false
    if (!did1 || mentFound) {
      val suf2a = Seq("issaIent", "issantes", "issantes", "issants", "issante",
        "issions", "iraIent", "issons", "issiez", "issent", "issant", "issais",
        "issait", "irions", "isses", "isses", "irons", "iront", "irent",
        "irais", "irait", "iriez", "îtes", "îmes", "isse", "issez", "iras",
        "irai", "irez", "ira", "ies", "ît", "ie", "ir", "is", "it", "i")
      longestInRegion(w, rv, suf2a)
        .filter { s =>
          val p = w.length - s.length - 1
          p >= rv && !frVowels.contains(w(p)) && w(p) != 'H'
        }
        .foreach { s => w = w.dropRight(s.length); did2 = true }
      if (!did2) {
        // step 2b
        val g1 = Seq("ions")
        val g2 = Seq("eraIent", "erions", "èrent", "erais", "erait", "eriez",
          "erons", "eront", "erai", "eras", "erez", "ées", "era", "iez",
          "ée", "és", "er", "ez", "é")
        val g3 = Seq("assions", "assiez", "assent", "aIent", "antes", "asses",
          "âtes", "asse", "ants", "ante", "âmes", "ais", "ait", "ant",
          "ât", "ai", "as", "a")
        longestInRegion(w, rv, g1 ++ g2 ++ g3) match {
          case Some(s) if g1.contains(s) =>
            if (inR2(s.length)) { w = w.dropRight(s.length); did2 = true }
          case Some(s) if g2.contains(s) =>
            w = w.dropRight(s.length); did2 = true
          case Some(s) =>
            w = w.dropRight(s.length); did2 = true
            if (w.endsWith("e") && inRV(1)) w = w.dropRight(1)
          case scala.None => ()
        }
      }
    }

    if (did1 || did2) {
      // ---- step 3
      if (w.endsWith("Y")) w = w.dropRight(1) + "i"
      else if (w.endsWith("ç")) w = w.dropRight(1) + "c"
    } else {
      // ---- step 4
      if (w.endsWith("s") && w.length >= 2 &&
          !"aiouès".contains(w(w.length - 2)) && w(w.length - 2) != 's')
        w = w.dropRight(1)
      val s4 = Seq("Ière", "ière", "Ier", "ier", "ion", "e", "ë")
      longestInRegion(w, rv, s4) match {
        case Some("ion") =>
          if (inR2(3) && w.length > 3 &&
              (w(w.length - 4) == 's' || w(w.length - 4) == 't'))
            w = w.dropRight(3)
        case Some(s @ ("ier" | "ière" | "Ier" | "Ière")) =>
          w = w.dropRight(s.length) + "i"
        case Some("e") => w = w.dropRight(1)
        case Some("ë") => if (w.endsWith("guë")) w = w.dropRight(1)
        case _ => ()
      }
    }
    // ---- step 5: undouble enn/onn/ett/ell/eill
    if (Seq("enn", "onn", "ett", "ell", "eill").exists(w.endsWith))
      w = w.dropRight(1)
    // ---- step 6: un-accent é/è before a final non-vowel run
    val lastV = w.lastIndexWhere(frVowels.contains)
    if (lastV >= 0 && lastV < w.length - 1 &&
        (w(lastV) == 'é' || w(lastV) == 'è'))
      w = w.substring(0, lastV) + 'e' + w.substring(lastV + 1)
    w.map {
      case 'I' => 'i'; case 'U' => 'u'; case 'Y' => 'y'; case c => c
    }
  }

  // ======================= Dutch ==========================================
  // snowballstem.org/algorithms/dutch/stemmer.html (classic revision).

  private val nlVowels = "aeiouyè".toSet

  private def nlUndouble(w: String): String =
    if (Seq("kk", "dd", "tt").exists(w.endsWith)) w.dropRight(1) else w

  def dutch(word0: String): String = {
    var w = word0.toLowerCase.map {
      case 'ä' => 'a'; case 'ë' => 'e'; case 'ï' => 'i'; case 'ö' => 'o'
      case 'ü' => 'u'; case 'á' => 'a'; case 'é' => 'e'; case 'í' => 'i'
      case 'ó' => 'o'; case 'ú' => 'u'; case c => c
    }
    if (w.length < 3) return w
    // prelude: initial y and y after a vowel → Y; i between vowels → I
    val sb = new StringBuilder(w)
    if (sb(0) == 'y') sb(0) = 'Y'
    var i = 1
    while (i < sb.length) {
      val c = sb(i)
      if (c == 'y' && nlVowels.contains(sb(i - 1))) sb(i) = 'Y'
      else if (c == 'i' && i + 1 < sb.length &&
               nlVowels.contains(sb(i - 1)) && nlVowels.contains(sb(i + 1)))
        sb(i) = 'I'
      i += 1
    }
    w = sb.toString
    val (r1raw, r2) = romR1R2(w, nlVowels)
    val r1 = Math.max(r1raw, Math.min(3, w.length)) // min-3 adjustment
    def inR1(n: Int) = w.length - n >= r1
    def inR2(n: Int) = w.length - n >= r2

    // ---- step 1
    if (w.endsWith("heden") && inR1(5)) w = w.dropRight(5) + "heid"
    else {
      val enSuf = Seq("ene", "en").find(s => w.endsWith(s) && inR1(s.length))
      enSuf match {
        case Some(s)
            if w.length > s.length &&
              !nlVowels.contains(w(w.length - s.length - 1)) &&
              !w.endsWith("gem" + s) =>
          w = nlUndouble(w.dropRight(s.length))
        case _ =>
          val sSuf = Seq("se", "s").find(s => w.endsWith(s) && inR1(s.length))
          sSuf.foreach { s =>
            val p = w.length - s.length - 1
            if (p >= 0 && !nlVowels.contains(w(p)) && w(p) != 'j')
              w = w.dropRight(s.length)
          }
      }
    }
    // ---- step 2: suffix e after a non-vowel, in R1
    var eRemoved = false
    if (w.endsWith("e") && inR1(1) && w.length >= 2 &&
        !nlVowels.contains(w(w.length - 2))) {
      w = nlUndouble(w.dropRight(1)); eRemoved = true
    }
    // ---- step 3a: heid (not after c), then a step-1b-style en
    if (w.endsWith("heid") && inR2(4) && w.length > 4 &&
        w(w.length - 5) != 'c') {
      w = w.dropRight(4)
      if (w.endsWith("en") && inR1(2) && w.length > 2 &&
          !nlVowels.contains(w(w.length - 3)) && !w.endsWith("gemen"))
        w = nlUndouble(w.dropRight(2))
    }
    // ---- step 3b: d-suffixes
    if ((w.endsWith("end") || w.endsWith("ing")) && inR2(3)) {
      w = w.dropRight(3)
      if (w.endsWith("ig") && inR2(2) && w.length > 2 && w(w.length - 3) != 'e')
        w = w.dropRight(2)
      else w = nlUndouble(w)
    } else if (w.endsWith("ig") && inR2(2) && w.length > 2 &&
               w(w.length - 3) != 'e') w = w.dropRight(2)
    else if (w.endsWith("lijk") && inR2(4)) {
      w = w.dropRight(4)
      // repeat step 2
      if (w.endsWith("e") && inR1(1) && w.length >= 2 &&
          !nlVowels.contains(w(w.length - 2)))
        w = nlUndouble(w.dropRight(1))
    } else if (w.endsWith("baar") && inR2(4)) w = w.dropRight(4)
    else if (w.endsWith("bar") && inR2(3) && eRemoved) w = w.dropRight(3)
    // ---- step 4: undouble vowel (CVVC with the last consonant not I)
    if (w.length >= 4) {
      val n = w.length
      val (c1, v1, v2, c2) = (w(n - 4), w(n - 3), w(n - 2), w(n - 1))
      if (!nlVowels.contains(c1) && !nlVowels.contains(c2) && c2 != 'I' &&
          v1 == v2 && "aeou".contains(v1))
        w = w.substring(0, n - 2) + c2
    }
    w.map { case 'Y' => 'y'; case 'I' => 'i'; case c => c }
  }

  // ======================= Romanian =======================================
  // snowballstem.org/algorithms/romanian/stemmer.html. Comma-below ş/ţ
  // (U+0219/U+021B) normalize to the cedilla forms the suffix tables use
  // and are restored on output when the input used them.

  private val roVowels = "aăâeiîou".toSet

  def romanian(word0: String): String = {
    // NO comma-below normalization: rust-stemmers 1.2.0 embeds a romanian
    // algorithm older than snowball 2.2's ș/ț handling, so modern-
    // orthography ț/ș are UNKNOWN letters there — suffix rows spelled
    // with cedilla ţ/ş simply do not match them (r18 oracle sweep:
    // semnificație → semnificaț via the final-vowel step only, NOT
    // semnific; the old normalize-and-restore stemmed like snowball 2.2)
    var w = word0.toLowerCase
    def restore(out: String): String = out
    if (w.length < 3) return restore(w)
    // prelude: i/u between vowels marked as consonants
    val sb = new StringBuilder(w)
    var i = 1
    while (i < sb.length - 1) {
      val c = sb(i)
      if ((c == 'i' || c == 'u') &&
          roVowels.contains(sb(i - 1)) && roVowels.contains(sb(i + 1)))
        sb(i) = (c - 32).toChar
      i += 1
    }
    w = sb.toString
    val rv = romRV(w, roVowels)
    val (r1, r2) = romR1R2(w, roVowels)
    def inRV(n: Int) = w.length - n >= rv
    def inR1(n: Int) = w.length - n >= r1
    def inR2(n: Int) = w.length - n >= r2

    // ---- step 0: plurals and simplifications (in R1, longest match)
    val step0 = Seq("iilor", "ului", "elor", "iile", "atei", "aţie", "aţia",
      "ilor", "aua", "ele", "iua", "iei", "ile", "ul", "ea", "ii")
    step0.sortBy(-_.length).find(s => w.endsWith(s) && inR1(s.length)).foreach {
      case s @ ("ul" | "ului") => w = w.dropRight(s.length)
      case "aua" => w = w.dropRight(3) + "a"
      case s @ ("ea" | "ele" | "elor") => w = w.dropRight(s.length) + "e"
      case s @ ("ii" | "iua" | "iei" | "iile" | "iilor" | "ilor") =>
        w = w.dropRight(s.length) + "i"
      case "ile" =>
        if (!w.dropRight(3).endsWith("ab")) w = w.dropRight(3) + "i"
      case "atei" => w = w.dropRight(4) + "at"
      case s @ ("aţie" | "aţia") => w = w.dropRight(s.length) + "aţi"
      case _ => ()
    }

    // ---- step 1: combining suffixes (in R1), repeated until stable
    var removed12 = false
    var changed = true
    while (changed) {
      changed = false
      val comb: Seq[(Seq[String], String)] = Seq(
        (Seq("abilitate", "abilitati", "abilităi", "abilităţi"), "abil"),
        (Seq("ibilitate"), "ibil"),
        (Seq("ivitate", "ivitati", "ivităi", "ivităţi"), "iv"),
        (Seq("icitate", "icitati", "icităi", "icităţi", "icator", "icatori",
          "iciv", "iciva", "icive", "icivi", "ical", "icala", "icale",
          "icali"), "ic"),
        (Seq("aţiune", "atoare", "ătoare", "ativ", "ativa", "ative", "ativi",
          "ator", "atori", "ător", "ători"), "at"),
        (Seq("iţiune", "itoare", "itiv", "itiva", "itive", "itivi",
          "itor", "itori"), "it"))
      val all = comb.flatMap { case (ss, r) => ss.map(_ -> r) }
      all.sortBy(-_._1.length).find { case (s, _) =>
        w.endsWith(s) && inR1(s.length)
      }.foreach { case (s, r) =>
        w = w.dropRight(s.length) + r
        changed = true; removed12 = true
      }
    }

    // ---- step 2: standard suffixes (in R2, longest match)
    val s2plain = Seq("abila", "abile", "abili", "abilă", "ibila", "ibile",
      "ibili", "ibilă", "itate", "itati", "ităţi", "abil", "ibil", "oasa",
      "oasă", "oase", "anta", "ante", "anti", "antă", "ator", "atori",
      "ităi", "ata", "ată", "ati", "ate", "uta", "ută", "uti", "ute",
      "ita", "ită", "iti", "ite", "ica", "ice", "ici", "ică", "iva",
      "ive", "ivi", "ivă", "osi", "oşi", "ant", "at", "ut", "it", "ic",
      "iv", "os")
    val s2ist = Seq("isme", "ista", "iste", "isti", "istă", "işti", "ism", "ist")
    val s2iune = Seq("iune", "iuni")
    // snowball among: the LONGEST matching suffix commits — if its R2
    // condition fails, the whole step fails with NO fallback to a shorter
    // row (realitate ends itate, which is not in its R2, so even the ate
    // inside R2 stays: → realitat via the final-vowel step; r18 oracle)
    val all2 = s2plain.map(_ -> 0) ++ s2ist.map(_ -> 1) ++ s2iune.map(_ -> 2)
    all2.sortBy(-_._1.length).find { case (s, _) => w.endsWith(s) }.foreach {
      case (s, k) if inR2(s.length) => k match {
        case 0 => w = w.dropRight(s.length); removed12 = true
        case 1 => w = w.dropRight(s.length) + "ist"; removed12 = true
        case _ =>
          if (w.dropRight(s.length).endsWith("ţ")) {
            w = w.dropRight(s.length + 1) + "t"; removed12 = true
          }
      }
      case _ => ()
    }

    // ---- step 3: verb suffixes (in RV), only when steps 1-2 removed nothing
    if (!removed12) {
      // group A deletes only after a consonant or u (itself in RV)
      val ga = Seq("aserăm", "aserăţi", "iserăm", "iserăţi", "âserăm",
        "âserăţi", "userăm", "userăţi", "seserăm", "seserăţi",
        "aseşi", "aseră", "iseşi", "iseră", "âseşi", "âseră", "useşi",
        "useră", "seseşi", "seseră", "ească", "arăm", "arăţi",
        "erăm", "erăţi", "irăm", "irăţi", "ârăm", "ârăţi", "asem", "isem",
        "âsem", "usem", "sesem", "indu", "ându", "eşte", "eşti", "ăşte",
        "ăşti", "ează", "ăsc", "eam", "eai", "eau", "iam", "iai", "iau",
        "esc", "are", "ere", "ire", "âre", "ind", "ând", "eze", "ase",
        "ise", "âse", "use", "sese", "ez", "ezi", "am", "ai", "au", "ui",
        "âi", "aşi").filter(_.nonEmpty)
      val gb = Seq("serăm", "serăţi", "sesem", "seră", "sei", "se",
        "ăm", "aţi", "em", "eţi", "im", "iţi", "âm", "âţi")
      val cand = (ga.map(_ -> true) ++ gb.map(_ -> false))
        .sortBy(-_._1.length)
        .find { case (s, condA) =>
          w.endsWith(s) && inRV(s.length) && (!condA || {
            val p = w.length - s.length - 1
            p >= rv && (!roVowels.contains(w(p)) || w(p) == 'u')
          })
        }
      cand.foreach { case (s, _) => w = w.dropRight(s.length) }
    }

    // ---- step 4: final vowel (in RV)
    Seq("ie", "a", "e", "i", "ă").sortBy(-_.length)
      .find(s => w.endsWith(s) && inRV(s.length))
      .foreach(s => w = w.dropRight(s.length))
    restore(w.map { case 'I' => 'i'; case 'U' => 'u'; case c => c })
  }

  // ======================= Hungarian ======================================
  // snowballstem.org/algorithms/hungarian/stemmer.html: nine suffix steps
  // in R1 (instrumental, frequent cases, special/other cases, factive,
  // owned, singular/plural owner, plural), with digraph-aware R1 and
  // double-consonant undoubling. Validated against the reference's
  // published analyzer vectors.

  private val huVowels = "aáeéiíoóöőuúüű".toSet
  private val huDigraphs = Seq("dzs", "cs", "dz", "gy", "ly", "ny", "sz", "ty", "zs")
  private val huDoubles = Seq("ccs", "ddz", "ggy", "lly", "nny", "ssz", "tty",
    "zzs", "bb", "cc", "dd", "ff", "gg", "jj", "kk", "ll", "mm", "nn", "pp",
    "rr", "ss", "tt", "vv", "zz")

  private def huR1(w: String): Int =
    if (huVowels.contains(w(0))) {
      var i = 1
      while (i < w.length && huVowels.contains(w(i))) i += 1
      if (i >= w.length) w.length
      else i + huDigraphs.find(w.substring(i).startsWith).map(_.length).getOrElse(1)
    } else {
      var i = 0
      while (i < w.length && !huVowels.contains(w(i))) i += 1
      if (i >= w.length) w.length else i + 1
    }

  /** Remove one letter of a trailing double consonant (ssz → sz, tt → t). */
  private def huUndouble(w: String): String =
    huDoubles.sortBy(-_.length).find(w.endsWith) match {
      case Some(d) =>
        val at = w.length - d.length
        w.substring(0, at) + w.substring(at + 1)
      case scala.None => w
    }

  def hungarian(word0: String): String = {
    var w = word0.toLowerCase
    if (w.length < 3) return w
    val r1 = huR1(w)
    def inR1(n: Int) = w.length - n >= r1
    def endsDouble(stem: String) = huDoubles.exists(stem.endsWith)
    // one longest-match among per step; `repl` maps matched → replacement
    def step(rules: Seq[(String, String)]): Unit =
      rules.sortBy(-_._1.length).find { case (s, _) =>
        w.endsWith(s) && inR1(s.length)
      }.foreach { case (s, r) => w = w.dropRight(s.length) + r }

    // 1. instrumental: al/el after a double consonant, then undouble
    Seq("al", "el").find(s => w.endsWith(s) && inR1(s.length) &&
        endsDouble(w.dropRight(s.length))).foreach { s =>
      w = huUndouble(w.dropRight(s.length))
    }
    // 2. frequent cases, then trailing á/é normalize
    step(Seq("képpen", "onként", "enként", "anként", "képp", "ként", "ban",
      "ben", "nak", "nek", "val", "vel", "tól", "től", "ról", "ről", "ból",
      "ből", "hoz", "hez", "höz", "nál", "nél", "ért", "kor", "ba", "be",
      "ra", "re", "ig", "at", "et", "ot", "öt", "ul", "ül", "vá", "vé",
      "en", "on", "an", "ön", "n", "t").map(_ -> ""))
    if (w.endsWith("á")) w = w.dropRight(1) + "a"
    else if (w.endsWith("é")) w = w.dropRight(1) + "e"
    // 3. special cases
    step(Seq("ánként" -> "a", "án" -> "a", "én" -> "e"))
    // 4. other cases
    step(Seq("astul" -> "", "estül" -> "", "ástul" -> "a", "éstül" -> "e",
      "stul" -> "", "stül" -> ""))
    // 5. factive: á/é after a double consonant, then undouble
    Seq("á", "é").find(s => w.endsWith(s) && inR1(1) &&
        endsDouble(w.dropRight(1))).foreach { _ =>
      w = huUndouble(w.dropRight(1))
    }
    // 6. owned
    step(Seq("áké" -> "a", "áéi" -> "a", "éké" -> "e", "ééi" -> "e",
      "éé" -> "e", "oké" -> "", "öké" -> "", "aké" -> "", "eké" -> "",
      "ké" -> "", "éi" -> "", "é" -> ""))
    // 7. singular owner
    step(Seq("ájuk" -> "a", "éjük" -> "e", "ánk" -> "a", "énk" -> "e",
      "ám" -> "a", "ád" -> "a", "ém" -> "e", "éd" -> "e", "ünk" -> "",
      "unk" -> "", "juk" -> "", "jük" -> "", "nk" -> "", "uk" -> "",
      "ük" -> "", "em" -> "", "om" -> "", "am" -> "", "od" -> "",
      "ed" -> "", "ad" -> "", "öd" -> "", "ja" -> "", "je" -> "",
      "á" -> "a", "é" -> "e", "m" -> "", "d" -> "", "a" -> "", "e" -> "",
      "o" -> ""))
    // 8. plural owner
    step(Seq("jaitok" -> "", "jeitek" -> "", "áitok" -> "a", "éitek" -> "e",
      "aitok" -> "", "eitek" -> "", "jaink" -> "", "jeink" -> "",
      "áink" -> "a", "éink" -> "e", "aink" -> "", "eink" -> "",
      "jaim" -> "", "jeim" -> "", "jaid" -> "", "jeid" -> "",
      "jaik" -> "", "jeik" -> "", "áim" -> "a", "áid" -> "a", "áik" -> "a",
      "éim" -> "e", "éid" -> "e", "éik" -> "e", "aim" -> "", "eim" -> "",
      "aid" -> "", "eid" -> "", "aik" -> "", "eik" -> "", "itek" -> "",
      "ink" -> "", "jai" -> "", "jei" -> "", "ái" -> "a", "éi" -> "e",
      "im" -> "", "id" -> "", "ik" -> "", "ai" -> "", "ei" -> "",
      "i" -> ""))
    // 9. plural
    step(Seq("ák" -> "a", "ék" -> "e", "ök" -> "", "ok" -> "", "ek" -> "",
      "ak" -> "", "k" -> ""))
    w
  }

  // ======================= Finnish ========================================
  // snowballstem.org/algorithms/finnish/stemmer.html: particles,
  // possessives, cases (with vowel-harmony hXn and long-vowel conditions),
  // comparative endings, plurals, and the tidy-up pass (long-vowel and
  // final-vowel trims, double-consonant undoubling). Validated against the
  // reference's published analyzer vectors.

  private val fiVowels = "aeiouyäö".toSet
  private val fiLongV = Seq("aa", "ee", "ii", "oo", "uu", "ää", "öö")

  def finnish(word0: String): String = {
    var w = word0.toLowerCase
    if (w.length < 3) return w
    val (r1, r2) = romR1R2(w, fiVowels)
    def inR1(n: Int) = w.length - n >= r1
    def inR2(n: Int) = w.length - n >= r2
    def at(i: Int): Char = if (i >= 0 && i < w.length) w(i) else '\u0000'

    // ---- step 1: particles etc
    val particles = Seq("kaan", "kään", "kin", "han", "hän", "ko", "kö",
      "pa", "pä").sortBy(-_.length)
    particles.find(s => w.endsWith(s) && inR1(s.length)) match {
      case Some(s) =>
        val p = at(w.length - s.length - 1)
        if (p == 'n' || p == 't' || fiVowels.contains(p)) w = w.dropRight(s.length)
      case scala.None =>
        if (w.endsWith("sti") && inR2(3)) w = w.dropRight(3)
    }

    // ---- step 2: possessives
    val n2 = w.length
    if (w.endsWith("nsa") && inR1(3)) w = w.dropRight(3)
    else if (w.endsWith("nsä") && inR1(3)) w = w.dropRight(3)
    else if (w.endsWith("mme") && inR1(3)) w = w.dropRight(3)
    else if (w.endsWith("nne") && inR1(3)) w = w.dropRight(3)
    else if (w.endsWith("si") && inR1(2)) {
      if (at(w.length - 3) != 'k') w = w.dropRight(2)
    } else if (w.endsWith("ni") && inR1(2)) {
      w = w.dropRight(2)
      if (w.endsWith("kse")) w = w.dropRight(1) + "i"
    } else if (w.endsWith("an") && inR1(2) &&
        Seq("ta", "ssa", "sta", "lla", "lta", "na")
          .exists(p => w.dropRight(2).endsWith(p))) w = w.dropRight(2)
    else if (w.endsWith("än") && inR1(2) &&
        Seq("tä", "ssä", "stä", "llä", "ltä", "nä")
          .exists(p => w.dropRight(2).endsWith(p))) w = w.dropRight(2)
    else if (w.endsWith("en") && inR1(2) &&
        Seq("lle", "ine").exists(p => w.dropRight(2).endsWith(p)))
      w = w.dropRight(2)
    val _ = n2

    // ---- step 3: cases
    var caseRemoved = false
    def dropCase(k: Int): Unit = { w = w.dropRight(k); caseRemoved = true }
    val hXn = Seq("han", "hen", "hin", "hon", "hun", "hyn", "hän", "hön")
    val plainCases = Seq("ssa", "ssä", "sta", "stä", "lla", "llä", "lta",
      "ltä", "lle", "ksi", "ine", "na", "nä", "ta", "tä")
    val allCases: Seq[(String, Int)] =
      Seq("seen" -> 3, "siin" -> 2, "tten" -> 2, "den" -> 2) ++
        hXn.map(_ -> 1) ++ Seq("tta" -> 4, "ttä" -> 4) ++
        plainCases.map(_ -> 0) ++ Seq("a" -> 5, "ä" -> 5, "n" -> 6)
    // FALLBACK semantics (r18 oracle sweep): a conditioned row that fails
    // falls through to the next shorter row — kauneutta loses its plain
    // ta when the e-gated tta fails, kauneuden its n when the Vi-gated
    // den fails.
    var caseDone = false
    allCases.sortBy(-_._1.length).foreach { case (s, kind) =>
      if (!caseDone && w.endsWith(s) && inR1(s.length)) kind match {
        case 0 => dropCase(s.length); caseDone = true
        case 1 => // hXn: preceded by the suffix's own vowel
          if (at(w.length - 4) == s(1)) { dropCase(3); caseDone = true }
        case 2 => // siin/tten/den: preceded by Vi
          if (at(w.length - s.length - 1) == 'i' &&
              fiVowels.contains(at(w.length - s.length - 2))) {
            dropCase(s.length); caseDone = true
          }
        case 3 => // seen: preceded by a long vowel
          if (fiLongV.exists(w.dropRight(4).endsWith)) {
            dropCase(4); caseDone = true
          }
        case 4 => // tta/ttä: preceded by e
          if (at(w.length - 4) == 'e') { dropCase(3); caseDone = true }
        case 5 => // a/ä: preceded by consonant + vowel
          val (c, v) = (at(w.length - 3), at(w.length - 2))
          if (!fiVowels.contains(c) && c != '\u0000' && fiVowels.contains(v)) {
            dropCase(1); caseDone = true
          }
        case _ => // n: delete; a preceding long vowel or ie loses a letter
          dropCase(1)
          if (fiLongV.exists(w.endsWith) || w.endsWith("ie")) w = w.dropRight(1)
          caseDone = true
      }
    }


    // ---- step 4: other endings (comparatives), in R2
    val others = Seq("impi", "impa", "impä", "immi", "imma", "immä",
      "mpi", "mpa", "mpä", "mmi", "mma", "mmä", "eja", "ejä")
    others.sortBy(-_.length).find(s => w.endsWith(s) && inR2(s.length)).foreach {
      case s @ ("mpi" | "mpa" | "mpä" | "mmi" | "mma" | "mmä") =>
        if (!w.dropRight(3).endsWith("po")) w = w.dropRight(3)
      case s => w = w.dropRight(s.length)
    }

    // ---- step 5: plurals
    if (caseRemoved) {
      if ((w.endsWith("i") || w.endsWith("j")) && inR1(1)) w = w.dropRight(1)
    } else if (w.endsWith("t") && inR1(1) &&
        fiVowels.contains(at(w.length - 2))) {
      w = w.dropRight(1)
      if (w.endsWith("imma") && inR2(4)) w = w.dropRight(4)
      else if (w.endsWith("mma") && inR2(3) && !w.dropRight(3).endsWith("po"))
        w = w.dropRight(3)
    }

    // ---- step 6: tidying up (in R1)
    if (fiLongV.exists(w.endsWith) && inR1(1)) w = w.dropRight(1)
    // setlimit tomark p1: the PRECEDING consonant the rule tests must
    // also lie inside R1 (r18 oracle sweep: kauneude → kauneud but vuode
    // keeps its e — its d sits before p1, so the test cannot reach it)
    if (w.length >= 2 && inR1(2) && "aäei".contains(w.last) &&
        !fiVowels.contains(w(w.length - 2))) w = w.dropRight(1)
    if ((w.endsWith("oj") || w.endsWith("uj")) && inR1(1)) w = w.dropRight(1)
    if (w.endsWith("jo") && inR1(1)) w = w.dropRight(1)
    // undouble a final double consonant (also before trailing vowels)
    val tail = w.reverse.takeWhile(fiVowels.contains).length
    val ci = w.length - tail - 1
    if (ci >= 1 && !fiVowels.contains(w(ci)) && w(ci) == w(ci - 1))
      w = w.substring(0, ci) + w.substring(ci + 1)
    w
  }

  // ======================= Russian ========================================
  // snowballstem.org/algorithms/russian/stemmer.html. All steps confined to
  // RV (the region after the first vowel); R2 standard.

  private val ruVowels = "аеиоуыэюя".toSet

  def russian(word0: String): String = {
    var w = word0.toLowerCase.replace('ё', 'е')
    if (w.length < 2) return w
    val rv = {
      var i = 0
      while (i < w.length && !ruVowels.contains(w(i))) i += 1
      if (i < w.length) i + 1 else w.length
    }
    val (_, r2) = romR1R2(w, ruVowels)
    def inRV(n: Int) = w.length - n >= rv
    def inR2(n: Int) = w.length - n >= r2
    def precededByAYa(sufLen: Int): Boolean = {
      val p = w.length - sufLen - 1
      p >= rv && (w(p) == 'а' || w(p) == 'я')
    }

    // ---- step 1
    val gerund1 = Seq("вшись", "вши", "в")
    val gerund2 = Seq("ившись", "ывшись", "ивши", "ывши", "ив", "ыв")
    val gerund = (gerund1.map(s => (s, true)) ++ gerund2.map(s => (s, false)))
      .sortBy(-_._1.length)
      .find { case (s, aya) =>
        w.endsWith(s) && inRV(s.length) && (!aya || precededByAYa(s.length))
      }
    gerund match {
      case Some((s, _)) => w = w.dropRight(s.length)
      case scala.None =>
        Seq("ся", "сь").find(s => w.endsWith(s) && inRV(s.length))
          .foreach(s => w = w.dropRight(s.length))
        val adjective = Seq("ими", "ыми", "его", "ого", "ему", "ому",
          "ее", "ие", "ые", "ое", "ей", "ий", "ый", "ой", "ем", "им",
          "ым", "ом", "их", "ых", "ую", "юю", "ая", "яя", "ою", "ею")
        val adjFound = longestInRegion(w, rv, adjective)
        adjFound match {
          case Some(a) =>
            w = w.dropRight(a.length)
            // optional participle before the adjective ending
            val part1 = Seq("ем", "нн", "вш", "ющ", "щ")
            val part2 = Seq("ивш", "ывш", "ующ")
            (part1.map(s => (s, true)) ++ part2.map(s => (s, false)))
              .sortBy(-_._1.length)
              .find { case (s, aya) =>
                w.endsWith(s) && inRV(s.length) && (!aya || precededByAYa(s.length))
              }
              .foreach { case (s, _) => w = w.dropRight(s.length) }
          case scala.None =>
            val verb1 = Seq("ешь", "нно", "ете", "йте", "ла", "на", "ли",
              "ем", "ло", "но", "ет", "ют", "ны", "ть", "й", "л", "н")
            val verb2 = Seq("ейте", "уйте", "ила", "ыла", "ена", "ите",
              "или", "ыли", "ило", "ыло", "ено", "ует", "уют", "ены",
              "ить", "ыть", "ишь", "ей", "уй", "ил", "ыл", "им", "ым",
              "ен", "ят", "ит", "ыт", "ую", "ю")
            val verb = (verb1.map(s => (s, true)) ++ verb2.map(s => (s, false)))
              .sortBy(-_._1.length)
              .find { case (s, aya) =>
                w.endsWith(s) && inRV(s.length) && (!aya || precededByAYa(s.length))
              }
            verb match {
              case Some((s, _)) => w = w.dropRight(s.length)
              case scala.None =>
                val noun = Seq("иями", "ями", "ами", "ией", "иям", "ием",
                  "иях", "ев", "ов", "ие", "ье", "еи", "ии",
                  "ей", "ой", "ий", "ям", "ем", "ам", "ом", "ах", "ях",
                  "ию", "ью", "ия", "ья", "а", "е", "и", "й", "о", "у",
                  "ы", "ь", "ю", "я")
                longestInRegion(w, rv, noun)
                  .foreach(s => w = w.dropRight(s.length))
            }
        }
    }
    // ---- step 2: terminal и
    if (w.endsWith("и") && inRV(1)) w = w.dropRight(1)
    // ---- step 3: derivational ост/ость in R2
    Seq("ость", "ост").find(s => w.endsWith(s) && inR2(s.length))
      .foreach(s => w = w.dropRight(s.length))
    // ---- step 4
    if (w.endsWith("нн") && inRV(2)) w = w.dropRight(1)
    else {
      val sup = Seq("ейше", "ейш").find(s => w.endsWith(s) && inRV(s.length))
      sup match {
        case Some(s) =>
          w = w.dropRight(s.length)
          if (w.endsWith("нн") && inRV(2)) w = w.dropRight(1)
        case scala.None =>
          if (w.endsWith("ь") && inRV(1)) w = w.dropRight(1)
      }
    }
    w
  }

  // ======================= Turkish =========================================
  // snowballstem.org/algorithms/turkish/stemmer.html (Evren Kapusuz
  // Çilden's published algorithm), consumed by the reference through
  // rust_stemmers (idx/ft/analyzer/filter.rs). Backwards suffix stripping
  // gated by vowel harmony and optional buffer letters (y between vowels,
  // U between consonants, n/s per suffix class): nominal verb suffixes
  // first, then the noun-suffix chains with the ki continuations, then
  // last-consonant devoicing b/c/d/ğ → p/ç/t/k. Conformance is pinned to
  // the reference's own published vectors (filter.rs test_turkish_stemmer);
  // where the .sbl control flow is underdetermined offline the vectors
  // decide — documented deviations: the bare-consonant possessives skip
  // the two-vowel harmony test (benim → be requires it), and the rare
  // append-U / ad-soyad postludes are omitted.

  private val trVowels = "aeıioöuü".toSet
  private val trHigh = "ıiuü".toSet

  private final class Tr(var w: String) {
    var cur: Int = w.length
    def save: Int = cur
    def restore(p: Int): Unit = cur = p
    def prev: Char = if (cur > 0) w(cur - 1) else '\u0000'
    def lit(s: String): Boolean =
      if (cur >= s.length && w.regionMatches(cur - s.length, s, 0, s.length)) {
        cur -= s.length; true
      } else false
    def among(ss: String*): Boolean = ss.sortBy(-_.length).exists(lit)
    /** Two-vowel harmony over the unexamined region [0, cur): the suffix's
      * own vowel (rightmost) against the stem vowel preceding it
      * (check_vowel_harmony). */
    def harmony: Boolean = {
      var i = cur - 1
      while (i >= 0 && !trVowels(w(i))) i -= 1
      if (i < 0) return false
      var j = i - 1
      while (j >= 0 && !trVowels(w(j))) j -= 1
      if (j < 0) return false
      w(i) match {
        case 'a' => "aıou".contains(w(j))
        case 'e' => "eiöü".contains(w(j))
        case 'ı' => "aı".contains(w(j))
        case 'i' => "ei".contains(w(j))
        case 'o' => "ou".contains(w(j))
        case 'ö' => "öü".contains(w(j))
        case 'u' => "ou".contains(w(j))
        case 'ü' => "öü".contains(w(j))
        case _ => false
      }
    }
    /** Optional buffer consonant (y/n/s — inserted between vowels): present
      * ⇒ the char before it must be a vowel; absent ⇒ the stem must end in
      * a consonant (mark_suffix_with_optional_*_consonant). */
    def optC(c: Char): Boolean =
      if (prev == c) { cur -= 1; cur > 0 && trVowels(prev) }
      else cur > 0 && !trVowels(prev)
    /** Optional buffer vowel U (inserted between consonants): present ⇒
      * preceded by a consonant; absent ⇒ the stem ends in a vowel. */
    def optU: Boolean =
      if (trHigh(prev)) { cur -= 1; cur > 0 && !trVowels(prev) }
      else cur > 0 && trVowels(prev)
    def mark(body: => Boolean): Boolean = {
      val p = cur; val ok = body; if (!ok) cur = p; ok
    }
    def del(): Unit = { w = w.substring(0, cur); cur = w.length }
    def reset(): Unit = cur = w.length

    // nominal verb suffix markers
    def ymUs: Boolean = mark(harmony && among("mış", "miş", "muş", "müş") && optC('y'))
    def yDU: Boolean = mark(harmony && among("dı", "di", "du", "dü", "tı", "ti", "tu", "tü") && optC('y'))
    def ysA: Boolean = mark(harmony && among("sa", "se") && optC('y'))
    def yken: Boolean = mark(lit("ken") && optC('y'))
    def cAsInA: Boolean = mark(harmony && among("casına", "cesine"))
    def lAr: Boolean = mark(harmony && among("lar", "ler"))
    def nUz: Boolean = mark(harmony && among("nız", "niz", "nuz", "nüz"))
    def sUnUz: Boolean = mark(harmony && among("sınız", "siniz", "sunuz", "sünüz"))
    def yUz: Boolean = mark(harmony && among("ız", "iz", "uz", "üz") && optC('y'))
    def sUn: Boolean = mark(harmony && among("sın", "sin", "sun", "sün"))
    def yUm: Boolean = mark(harmony && among("ım", "im", "um", "üm") && optC('y'))
    def DUr: Boolean = mark(harmony && among("dır", "dir", "dur", "dür", "tır", "tir", "tur", "tür"))
    // noun suffix markers
    def ncA: Boolean = mark(harmony && among("ca", "ce", "ça", "çe") && optC('n'))
    def ndA: Boolean = mark(harmony && among("nda", "nde"))
    def nA: Boolean = mark(harmony && among("na", "ne"))
    def ndAn: Boolean = mark(harmony && among("ndan", "nden"))
    def nU: Boolean = mark(harmony && among("nı", "ni", "nu", "nü"))
    def nUn: Boolean = mark(harmony && among("ın", "in", "un", "ün") && optC('n'))
    def DA: Boolean = mark(harmony && among("da", "de", "ta", "te"))
    def DAn: Boolean = mark(harmony && among("dan", "den", "tan", "ten"))
    def yA: Boolean = mark(harmony && among("a", "e") && optC('y'))
    def ylA: Boolean = mark(harmony && among("la", "le") && optC('y'))
    def yU: Boolean = mark(harmony && among("ı", "i", "u", "ü") && optC('y'))
    def sU: Boolean = mark(harmony && among("ı", "i", "u", "ü") && optC('s'))
    def lArI: Boolean = mark(among("ları", "leri"))
    def poss: Boolean = mark(among("mız", "miz", "muz", "müz",
      "nız", "niz", "nuz", "nüz", "m", "n") && optU)
    def ki: Boolean = mark(among("ki", "kü"))

    /** stem_nominal_verb_suffixes — returns the continue-with-noun flag
      * (only the -lAr "they are X" branch unsets it). */
    def nominalVerb(): Boolean = {
      reset()
      if (mark(ymUs || yDU || ysA || yken)) { del(); return true }
      {
        val p = save
        if (cAsInA) {
          sUnUz || lAr || yUm || sUn || yUz // optional person marker
          if (ymUs) { del(); return true } else restore(p)
        }
      }
      if (lAr) {
        del()
        val p = save
        if (mark(DUr || yDU || ysA || ymUs)) del() else restore(p)
        return false
      }
      if (mark(nUz && (yDU || ysA))) { del(); return true }
      if (mark(sUnUz || yUz || sUn || yUm)) {
        del()
        if (ymUs) del()
        return true
      }
      if (DUr) {
        del()
        val p = save
        sUnUz || lAr || yUm || sUn || yUz
        if (ymUs) del() else restore(p)
        return true
      }
      true
    }

    /** The ki continuation: after a deletion (or before one, when the word
      * still ends in ki) strip the ki and the case/possessive chain that
      * preceded it (stem_suffix_chain_before/after_ki). */
    def kiChain(): Boolean = {
      val p = save
      if (!ki) return false
      if (DA) {
        del()
        if (lAr) { del(); kiChain() }
        else if (poss) { del(); if (lAr) del() }
        true
      } else if (nUn) {
        del()
        if (lArI) del()
        else if (mark(poss || sU)) { del(); if (lAr) { del(); kiChain() } }
        else if (lAr) { del(); kiChain() }
        true
      } else if (ndA) {
        if (lArI) { del(); true }
        else if (sU) { del(); if (lAr) { del(); kiChain() }; true }
        else if (kiChain()) true
        else { restore(p); false }
      } else { restore(p); false }
    }

    /** stem_noun_suffixes — the case/possessive chain alternation; each arm
      * deletes at its marked boundary and retries the rest of the chain
      * from the new end. */
    def nounSuffixes(): Unit = {
      reset()
      if (lAr) { del(); kiChain(); return }
      if (ncA) {
        del()
        if (lArI) del()
        else if (mark(poss || sU)) { del(); if (lAr) { del(); kiChain() } }
        else if (lAr) { del(); kiChain() }
        return
      }
      if (mark((ndA || nA) && {
        if (lArI) { del(); true }
        else if (sU) { del(); if (lAr) { del(); kiChain() }; true }
        else kiChain()
      })) return
      reset()
      if (mark((ndAn || nU) && {
        if (sU) { del(); if (lAr) { del(); kiChain() }; true }
        else if (lArI) { del(); true }
        else false
      })) return
      reset()
      if (DAn) {
        del()
        if (poss) { del(); if (lAr) { del(); kiChain() } }
        else if (lAr) { del(); kiChain() }
        else kiChain()
        return
      }
      if (mark(nUn || ylA)) {
        del()
        if (lAr) { del(); kiChain() }
        else if (mark(poss || sU)) { del(); if (lAr) { del(); kiChain() } }
        else kiChain()
        return
      }
      if (lArI) { del(); return }
      if (kiChain()) return
      if (mark(DA || yU || yA)) { del(); kiChain(); return }
      if (mark(poss || sU)) {
        del()
        if (lAr) { del(); kiChain() }
      }
    }
  }

  def turkish(word0: String): String = {
    // Turkish-locale lowering: I → ı and İ → i (default toLowerCase folds
    // both to dotted i)
    val w0 = word0.map {
      case 'I' => 'ı'; case 'İ' => 'i'; case c => c.toLower
    }
    // more_than_one_syllable_word: stemming applies only past one syllable
    if (w0.count(trVowels.contains) < 2) return w0
    val t = new Tr(w0)
    if (t.nominalVerb()) t.nounSuffixes()
    var w = t.w
    if (w.isEmpty) return w
    // postlude (published flow): the reserved words 'ad' (name) and
    // 'soyad' (surname) skip it entirely — without the guard the final-
    // consonant step would turn 'ad' into 'at' (horse)
    if (w == "ad" || w == "soyad") return w
    // append_U_to_stems_ending_with_d_or_g: a stem left ending in d/g
    // takes a harmony-matched high vowel (kanadı → kanad → kanadı)
    if (w.last == 'd' || w.last == 'g') {
      val lastVowel = w.reverseIterator.find(trVowels.contains)
      lastVowel.foreach { v =>
        if ("aı".contains(v)) w += 'ı'
        else if ("ei".contains(v)) w += 'i'
        else if ("ou".contains(v)) w += 'u'
        else if ("öü".contains(v)) w += 'ü'
      }
    }
    // post_process_last_consonants: reverse final devoicing
    w.last match {
      case 'b' => w.substring(0, w.length - 1) + 'p'
      case 'c' => w.substring(0, w.length - 1) + 'ç'
      case 'd' => w.substring(0, w.length - 1) + 't'
      case 'ğ' => w.substring(0, w.length - 1) + 'k'
      case _ => w
    }
  }

  // ======================= Greek ===========================================
  // snowballstem.org/algorithms/greek/stemmer.html — the Snowball form of
  // Ntais' Greek stemmer with the Saroukos extensions, as consumed through
  // rust_stemmers. Lowercasing folds the final sigma and strips tonos /
  // dialytika; words shorter than 3 letters pass through unstemmed; the
  // numbered noun/verb suffix steps guard a final longest-match ending
  // removal (skipped whenever an earlier step fired — the test1 flag) and
  // the comparative postlude. The step-1 exception table and the per-step
  // re-addition lists are reproduced to the extent the published algorithm
  // is recoverable offline; conformance is pinned to the reference's own
  // vectors (filter.rs test_greek_stemmer).

  private val elVowels = "αεηιουω".toSet

  private def elLower(c: Char): Char = c match {
    case 'ά' => 'α'; case 'έ' => 'ε'; case 'ή' => 'η'; case 'ί' => 'ι'
    case 'ό' => 'ο'; case 'ύ' => 'υ'; case 'ώ' => 'ω'
    case 'ϊ' | 'ΐ' => 'ι'; case 'ϋ' | 'ΰ' => 'υ'
    case 'ς' => 'σ'
    case o => o
  }

  private val elStep1: Seq[(String, String)] = Seq(
    "φαγια" -> "φα", "φαγιου" -> "φα", "φαγιων" -> "φα",
    "σκαγια" -> "σκα", "σκαγιου" -> "σκα", "σκαγιων" -> "σκα",
    "σογια" -> "σο", "σογιου" -> "σο", "σογιων" -> "σο",
    "τατογια" -> "τατο", "τατογιου" -> "τατο", "τατογιων" -> "τατο",
    "κρεασ" -> "κρε", "κρεατοσ" -> "κρε", "κρεατα" -> "κρε", "κρεατων" -> "κρε",
    "περασ" -> "περ", "περατοσ" -> "περ", "περατα" -> "περ", "περατων" -> "περ",
    "τερασ" -> "τερ", "τερατοσ" -> "τερ", "τερατα" -> "τερ", "τερατων" -> "τερ",
    "φωσ" -> "φω", "φωτοσ" -> "φω", "φωτα" -> "φω", "φωτων" -> "φω",
    "καθεστωσ" -> "καθεστ", "καθεστωτοσ" -> "καθεστ",
    "καθεστωτα" -> "καθεστ", "καθεστωτων" -> "καθεστ",
    "γεγονοσ" -> "γεγον", "γεγονοτοσ" -> "γεγον",
    "γεγονοτα" -> "γεγον", "γεγονοτων" -> "γεγον")

  private val elStep6b: Seq[String] = Seq(
    "α", "αγατε", "αγαν", "αει", "αμαι", "αν", "ασ", "ασαι", "αται", "αω",
    "ε", "ει", "εισ", "ειτε", "εσαι", "εσ", "εται", "η", "ηδεσ", "ηδων",
    "ηθει", "ηθεισ", "ηθειτε", "ηθηκατε", "ηθηκαν", "ηθουν", "ηθω",
    "ηκατε", "ηκαν", "ησ", "ησαν", "ησατε", "ησει", "ησεσ", "ησουν",
    "ησω", "ι", "ιεμαι", "ιεμαστε", "ιεσαι", "ιεστε", "ιεται", "ιομαι",
    "ιομασταν", "ιομουν", "ιομουνα", "ιονταν", "ιοντουσαν", "ιοσασταν",
    "ιοσαστε", "ιοσουν", "ιοσουνα", "ιοταν", "ιουμα", "ιουμαστε",
    "ιουνται", "ιουνταν", "ο", "οι", "ομαι", "ομασταν", "ομουν",
    "ομουνα", "ονται", "ονταν", "οντουσαν", "οσ", "οσασταν", "οσαστε",
    "οσουν", "οσουνα", "οταν", "ου", "ουμαι", "ουμαστε", "ουν",
    "ουνται", "ουνταν", "ουσ", "ουσαν", "ουσατε", "υ", "υσ", "ω", "ων")

  def greek(word0: String): String = {
    var w = word0.toLowerCase.map(elLower)
    if (w.length < 3 || !w.forall(c => c >= 'ͱ' && c <= 'ϡ')) return w
    var test1 = true
    def ends(ss: String*): Option[String] = ss.sortBy(-_.length).find(w.endsWith)
    def endsAny(ss: Seq[String]): Boolean = ss.exists(w.endsWith)
    // step 1: irregular nominal families
    elStep1.sortBy(-_._1.length).find(p => w.endsWith(p._1)).foreach { case (s, r) =>
      w = w.dropRight(s.length) + r; test1 = false
    }
    // step 2a-d: plural nouns
    ends("αδεσ", "αδων").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (endsAny(Seq("οκ", "μαμ", "μαν", "μπαμπ", "πατερ", "γιαγι",
        "νταντ", "κυρ", "θει", "πεθερ"))) w += "αδ"
    }
    ends("εδεσ", "εδων").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (endsAny(Seq("οπ", "ιπ", "εμπ", "υπ", "γηπ", "δαπ", "κρασπ",
        "μιλ"))) w += "εδ"
    }
    ends("ουδεσ", "ουδων").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (endsAny(Seq("αρκ", "καλιακ", "πεταλ", "λιχ", "πλεξ", "σκ", "σ",
        "φλ", "φρ", "βελ", "λουλ", "χν", "σπ", "τραγ", "φε"))) w += "ουδ"
    }
    ends("εωσ", "εων").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (Seq("θ", "δ", "ελ", "γαλ", "ν", "π", "ιδ", "παρ").contains(w))
        w += "ε"
    }
    // -ολογια/-ολογιων → ολο; -ιδια/-ιδιων and diminutive -ακια/-ακιων
    // strip whole (r18 oracle sweep: παιδιά → πα, ρολογια → ρολο,
    // γατακια → γατ; παιχνιδ- stems take the generic -ια instead, and
    // the genitive -ιου forms stay with the generic step too)
    var iaFamily = false
    ends("ολογια", "ολογιων").foreach { s =>
      w = w.dropRight(s.length) + "ολο"; test1 = false; iaFamily = true
    }
    if (!iaFamily) ends("ιδια", "ιδιων").foreach { s =>
      val stem = w.dropRight(s.length)
      if (stem != "παιχν") { w = stem; test1 = false; iaFamily = true }
    }
    if (!iaFamily) ends("ακια", "ακιων").foreach { s =>
      w = w.dropRight(s.length); test1 = false; iaFamily = true
    }
    // step 3: -ια/-ιου/-ιων
    if (!iaFamily) ends("ια", "ιου", "ιων").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (w.nonEmpty && elVowels(w.last)) w += "ι"
    }
    // step 4: -ικα/-ικο/-ικου/-ικων
    ends("ικα", "ικο", "ικου", "ικων").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if ((w.nonEmpty && elVowels(w.last)) || endsAny(Seq("αλ", "αδ",
        "ενδ", "αμαν", "αμμοχαλ", "ηθ", "ανηθ", "αντιδ", "φυσ", "βρωμ",
        "γερ", "εξωδ", "καλπ", "καλλιν", "καταδ", "μουλ", "μπαν",
        "μπαγιατ", "μπολ", "μποσ", "νιτ", "ξικ", "συνομηλ", "πετσ",
        "πιτσ", "πικαντ", "πλιατσ", "ποστελν", "πρωτοδ", "σερτ", "συναδ",
        "τσαμ", "υποδ", "φιλον", "φυλοδ", "χασ"))) w += "ικ"
    }
    // step 5: verb groups
    if (test1) ends("ηθηκαμε", "ουσαμε", "ησαμε", "ηκαμε", "αγαμε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
    }
    if (test1) ends("αμε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (Seq("αναπ", "αποθ", "αποκ", "αποστ", "βουβ", "ξεθ", "ουλ",
        "πεθ", "πικρ", "ποτ", "σιχ", "χ").contains(w)) w += "αμ"
    }
    if (test1) ends("ιουντανε", "ιοντανε", "ουντανε", "ηθηκανε", "ουσανε",
      "ιοτανε", "οντανε", "ησανε", "ηκανε", "αγανε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
    }
    if (test1) ends("ανε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (w.nonEmpty && "αειουω".contains(w.last)) w += "αν"
    }
    if (test1) ends("ησετε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
    }
    if (test1) ends("ετε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if ((w.nonEmpty && "αειουω".contains(w.last)) || endsAny(Seq("οδ",
        "αιρ", "φορ", "ταθ", "διαθ", "σχ", "ενδ", "ευρ", "τιθ", "υπερθ",
        "ραθ", "ενθ", "ροθ", "σθ", "πυρ", "αιν", "συνδ", "συν", "συνθ",
        "χωρ", "πον", "βρ", "καθ", "ευθ", "εκθ", "νετ", "ρον", "αρκ",
        "βαρ", "βολ", "ωφελ"))) w += "ετ"
    }
    if (test1) ends("οντασ", "ωντασ").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (w == "αρχ") w += "οντ"
      if (w.endsWith("κρε")) w += "ωντ"
    }
    if (test1) ends("ιομαστε", "ομαστε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (w == "ον") w += "ομαστ"
    }
    if (test1) ends("ιεστε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (endsAny(Seq("π", "απ", "συμπ", "ασυμπ", "ακαταπ", "αμεταμφ")))
        w += "ιεστ"
    }
    if (test1) ends("εστε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (endsAny(Seq("αλ", "αρ", "εκτελ", "ζ", "μ", "ξ", "παρακαλ",
        "προ", "νισ"))) w += "εστ"
    }
    if (test1) ends("ηθηκα", "ηθηκεσ", "ηθηκε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
    }
    if (test1) ends("ηκα", "ηκεσ", "ηκε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (endsAny(Seq("σκωλ", "σκουλ", "ναρθ", "σφ", "οθ", "πιθ")) ||
        Seq("διαθ", "θ", "παρακαταθ", "προσθ", "συνθ").contains(w)) w += "ηκ"
    }
    if (test1) ends("ουσα", "ουσεσ", "ουσε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if ((w.nonEmpty && "αειουω".contains(w.last)) || endsAny(Seq(
        "φαρμακ", "χαδ", "αγκ", "αναρρ", "βρομ", "εκλιπ", "λαμπιδ",
        "λεχ", "μ", "πατ", "ρ", "λ", "μεδ", "μεσαζ", "υποτειν", "αμ",
        "αιθ", "ανηκ", "δεσποζ", "ενδιαφερ"))) w += "ουσ"
    }
    if (test1) ends("αγα", "αγεσ", "αγε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (endsAny(Seq("ψοφ", "ναυλοχ")) || Seq("οφ", "πελ", "χορτ", "λλ",
        "σφ", "ρπ", "φρ", "πρ", "λοχ", "σμην").exists(w.endsWith)) ()
      else if (endsAny(Seq("αβαστ", "πολυφ", "αδηφ", "παμφ", "ρ", "ασπ",
        "αφ", "αμαλ", "αμαλλι", "ανυστ", "απερ", "ασπαρ", "αχαρ",
        "δερβεν", "δροσοπ", "ξεφ", "νεοπ", "νομοτ", "ολοπ", "ομοτ",
        "προστ", "προσωποπ", "συμπ", "συντ", "τ", "υποτ", "χαρ", "αειπ",
        "αιμοστ", "ανυπ", "αποτ", "αρτιπ", "διατ", "εν", "επιτ",
        "κροκαλοπ", "σιδηροπ", "λ", "ναυ", "ουλαμ", "ουρ", "π", "τρ",
        "μ"))) w += "αγ"
    }
    if (test1) ends("ησε", "ησου", "ησα").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (w == "θ" || endsAny(Seq("διαθ", "θ", "παρακαταθ", "προσθ",
        "συνθ", "απηλεγ"))) w += "ησ"
    }
    if (test1) ends("ηστε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (endsAny(Seq("ασβ", "σβ", "αχν", "χν", "απλ", "αειμν", "δυσχρ",
        "ευχρ", "κοινοχρ", "παλιμψ"))) w += "ηστ"
    }
    if (test1) ends("ησουνε", "ηθουνε", "ουνε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (endsAny(Seq("ν", "ρ", "σπι", "στραβομουτσ", "κακομουτσ",
        "εξων"))) w += "ουν"
    }
    if (test1) ends("ησουμε", "ηθουμε", "ουμε").foreach { s =>
      w = w.dropRight(s.length); test1 = false
      if (endsAny(Seq("παρασουσ", "φ", "χ", "ωριοπλ", "αζ", "αλλοσουσ",
        "ασουσ"))) w += "ουμ"
    }
    // step 6: -ματα family normalizes to -μα; the big ending removal runs
    // only when no earlier step fired
    ends("ματα", "ματων", "ματοσ").foreach { s =>
      w = w.dropRight(s.length) + "μα"
    }
    if (test1)
      elStep6b.sortBy(-_.length).find(w.endsWith).foreach { s =>
        w = w.dropRight(s.length)
      }
    // step 7: comparatives
    ends("εστερ", "εστατ", "οτερ", "οτατ", "υτερ", "υτατ", "ωτερ",
      "ωτατ").foreach(s => w = w.dropRight(s.length))
    w
  }

  // ======================= Arabic ==========================================
  // snowballstem.org/algorithms/arabic/stemmer.html (Assem Chelli's
  // algorithm via rust_stemmers). The published step structure,
  // reconstructed from the specification: Checks1 sets the verb/defined
  // flags off the article prefix, Normalize_pre strips tashkeel/tatweel,
  // suffixes run backwards (verb object-pronoun + person-ending chains
  // while the verb flag is live, else the noun possessive/number/feminine
  // chains, else the alef-maqsura fold), prefixes run forwards
  // (conjunction \u0648/\u0641, the article family, the \u0633-future
  // marker and \u064A\u0633\u062A/\u0646\u0633\u062A/\u062A\u0633\u062A
  // \u2192 \u0627\u0633\u062A), and Normalize_post folds hamza carriers.
  // Length guards are the spec's: 2-letter stems never result. All 15
  // words of the reference's own vector (filter.rs test_arabic_stemmer)
  // trace through this structure, as do the step-coverage vectors in
  // SnowballConformanceSpec. Residual reconstruction gaps, stated exactly:
  // the Unicode presentation-form (U+FExx) prelude table is omitted (no
  // plain-text corpus reaches it), and doubled-hamza prefix rows beyond
  // the two common ones are not carried.

  private def arStripFirst(w: String, minLen: Int,
      ss: String*): Option[String] =
    ss.sortBy(-_.length).collectFirst {
      case s if w.endsWith(s) && w.length >= minLen => w.dropRight(s.length)
    }

  def arabic(word0: String): String = {
    // ---- Normalize_pre: presentation forms FIRST (arabic.sbl's
    // shaped-forms table over Forms-B U+FE70\u2013FEFC): shaped tashkeel
    // (U+FE70\u2013FE7F) erase with the other diacritics, and each positional
    // letter form / lam-alef ligature folds to its base letter(s) \u2014 the
    // published table IS the Unicode compatibility decomposition of the
    // block, applied per character (NFKC of a lone positional form yields
    // its base letter; FEF5\u2013FEFC yield the lam + seated-alef pairs).
    // Forms-A (U+FB50\u2013FDC7: Arabic-script-language letters, multi-letter
    // ornate ligatures) are outside the published table and stay as-is.
    var w: String = word0.flatMap {
      case c if c >= '\uFE70' && c <= '\uFE7F' => ""
      case c if c >= '\uFE80' && c <= '\uFEFC' =>
        java.text.Normalizer.normalize(c.toString, java.text.Normalizer.Form.NFKC)
      case c => c.toString
    }
    // ---- tashkeel/tanween/shadda/sukun, tatweel, quranic superscript
    // alef; wasla folds to alef; Arabic-Indic digits to ASCII
    w = w.filterNot(c => (c >= '\u064B' && c <= '\u0652') ||
      c == '\u0640' || c == '\u0670')
    w = w.map {
      case '\u0671' => '\u0627'
      case c if c >= '\u0660' && c <= '\u0669' => ('0' + (c - '\u0660')).toChar
      case c => c
    }
    // ---- Checks1: definite-article detection sets the flags (no strip)
    var isVerb = true
    var isDefined = false
    if ((w.startsWith("\u0628\u0627\u0644") || w.startsWith("\u0643\u0627\u0644") ||
        w.startsWith("\u0648\u0627\u0644") || w.startsWith("\u0641\u0627\u0644")) && w.length > 4) {
      isVerb = false; isDefined = true
    } else if ((w.startsWith("\u0627\u0644") || w.startsWith("\u0644\u0644")) && w.length > 3) {
      isVerb = false; isDefined = true
    }

    // ---- Suffixes (backwards): verb chains first while the verb flag is
    // live, the noun chains otherwise, the alef-maqsura fold last.
    def verbSuffixes(): Boolean = {
      // Suffix_Verb_Step1: attached object pronouns
      val s1 = arStripFirst(w, 6, "\u0647\u0645\u0627", "\u0643\u0645\u0627", "\u0643\u0645\u0648")
        .orElse(arStripFirst(w, 5, "\u0646\u064A", "\u0646\u0627", "\u0647\u0627", "\u0647\u0645",
          "\u0647\u0646", "\u0643\u0645", "\u0643\u0646"))
        .orElse(arStripFirst(w, 4, "\u0647", "\u0643"))
      s1 match {
        case Some(w1) =>
          w = w1
          // a person ending may precede the pronoun: Step2a/2c, optional
          arStripFirst(w, 6, "\u062A\u0645\u0627", "\u062A\u0645\u0648")
            .orElse(arStripFirst(w, 5, "\u0646\u0627", "\u062A\u0627", "\u062A\u0646",
              "\u0627\u0646", "\u0648\u0646", "\u064A\u0646"))
            .orElse(arStripFirst(w, 4, "\u062A", "\u0627", "\u0646", "\u064A", "\u0648"))
            .foreach(w = _)
          true
        case scala.None =>
          // Suffix_Verb_Step2b: plural/second-person endings
          arStripFirst(w, 5, "\u0648\u0627", "\u062A\u0645") match {
            case Some(w1) => w = w1; true
            case scala.None =>
              // Suffix_Verb_Step2a: bare person endings
              arStripFirst(w, 6, "\u062A\u0645\u0627")
                .orElse(arStripFirst(w, 5, "\u0646\u0627", "\u062A\u0627", "\u062A\u0646",
                  "\u0627\u0646", "\u0648\u0646", "\u064A\u0646"))
                .orElse(arStripFirst(w, 4, "\u062A", "\u0627", "\u0646", "\u064A")) match {
                case Some(w1) => w = w1; true
                case scala.None => false
              }
          }
      }
    }
    def nounSuffixes(): Boolean = {
      val fired =
        // Suffix_Noun_Step2c2: the feminine \u0629
        arStripFirst(w, 4, "\u0629").map(v => { w = v; v }).isDefined || {
          // Step1a possessives (indefinite words only) + optional number
          (!isDefined && {
            arStripFirst(w, 6, "\u0643\u0645\u0627", "\u0647\u0645\u0627")
              .orElse(arStripFirst(w, 5, "\u0646\u0627", "\u0643\u0645", "\u0647\u0627",
                "\u0647\u0646", "\u0647\u0645"))
              .orElse(arStripFirst(w, 4, "\u064A", "\u0643", "\u0647")) match {
              case Some(w1) =>
                w = w1
                arStripFirst(w, 5, "\u0627\u062A")
                  .orElse(arStripFirst(w, 4, "\u0627", "\u064A", "\u0648", "\u062A"))
                  .foreach(w = _)
                true
              case scala.None => false
            }
          })
        } || {
          // Suffix_Noun_Step1b: sound-plural \u0646 chained to a number
          (w.endsWith("\u0646") && w.length > 5) && {
            val w1 = w.dropRight(1)
            arStripFirst(w1, 5, "\u0627\u062A")
              .orElse(arStripFirst(w1, 4, "\u0627", "\u064A", "\u0648", "\u062A")) match {
              case Some(w2) => w = w2; true
              case scala.None => false
            }
          }
        } ||
        (!isDefined &&
          arStripFirst(w, 4, "\u0627", "\u064A", "\u0648").map(v => { w = v; v }).isDefined) ||
        arStripFirst(w, 5, "\u0627\u062A").map(v => { w = v; v }).isDefined
      // Suffix_Noun_Step3: the nisba \u064A
      arStripFirst(w, 4, "\u064A").foreach(w = _)
      fired
    }
    if (!(isVerb && verbSuffixes())) {
      if (!nounSuffixes()) {
        // Suffix_All_alef_maqsura: \u0649 \u2192 \u064A
        if (w.endsWith("\u0649")) w = w.dropRight(1) + "\u064A"
      }
    }

    // ---- Prefixes (forwards)
    // Prefix_Step1: doubled initial hamza collapses
    if (w.length > 3) {
      if (w.startsWith("\u0623\u0623")) w = "\u0623" + w.substring(2)
      else if (w.startsWith("\u0623\u0622")) w = "\u0622" + w.substring(2)
    }
    // Prefix_Step2: conjunction \u0648 / \u0641 (not off a \u0648\u0627/\u0641\u0627
    // opening, which belongs to the following alef)
    if (w.length > 3 && (w.startsWith("\u0648") || w.startsWith("\u0641")) &&
        w.charAt(1) != '\u0627')
      w = w.substring(1)
    // Prefix_Step3: article family / the \u0628 preposition / verb
    // preformatives. NO \u0648\u0627\u0644/\u0641\u0627\u0644 rows: the
    // conjunction never strips off a \u0648\u0627/\u0641\u0627 opening
    // (Step2's guard), and the article rows are only \u0628\u0627\u0644 /
    // \u0643\u0627\u0644 \u2014 so \u0648\u0627\u0644\u0643\u062a\u0627\u0628
    // stays WHOLE, as the reference does (r18 oracle sweep)
    if ((w.startsWith("\u0628\u0627\u0644") ||
        w.startsWith("\u0643\u0627\u0644")) && w.length > 5)
      w = w.substring(3)
    else if ((w.startsWith("\u0627\u0644") || w.startsWith("\u0644\u0644")) && w.length > 4)
      w = w.substring(2)
    else if (!isVerb && w.length > 3 && w.startsWith("\u0628\u0628"))
      w = "\u0628" + w.substring(2)
    else if (!isVerb && w.length > 3 && w.startsWith("\u0643\u0643"))
      w = "\u0643" + w.substring(2)
    else if (isVerb && w.length > 4 &&
        (w.startsWith("\u0633\u064A") || w.startsWith("\u0633\u062A") ||
          w.startsWith("\u0633\u0646") || w.startsWith("\u0633\u0623")))
      w = w.substring(1) // the \u0633 future marker; the preformative stays
    else if (isVerb && w.length > 4 &&
        (w.startsWith("\u064A\u0633\u062A") || w.startsWith("\u0646\u0633\u062A") ||
          w.startsWith("\u062A\u0633\u062A")))
      w = "\u0627" + w.substring(1) // form-X preformative folds to \u0627\u0633\u062A

    // ---- Normalize_post: hamza carriers
    if (w.nonEmpty && "\u0622\u0623\u0625\u0624\u0626".contains(w.last))
      w = w.substring(0, w.length - 1) + "\u0621"
    w.map {
      case '\u0622' | '\u0623' | '\u0625' => '\u0627'
      case '\u0624' => '\u0648'
      case '\u0626' => '\u064A'
      case c => c
    }
  }

  // ======================= Tamil ===========================================
  // snowballstem.org/algorithms/tamil/stemmer.html (Damodharan's algorithm
  // via rust_stemmers): question clitics, the plural with its sandhi
  // compounds, the \u0bc1\u0bae\u0bcd clitic, the vetrumai-urupukal case
  // set, and the common third-person tense forms, gated on words longer
  // than 4 letters. Through the reference's blank,class analyzer chain
  // Tamil words reach the stemmer as virama-split fragments (the class
  // tokenizer drops the pulli and starts a new token \u2014 filter.rs
  // test_tamil_stemmer pins this), so the virama-bearing tables fire only
  // under a blank-only tokenizer; the fragment-visible endings the
  // reference's own vectors exercise are carried too. Coverage stated
  // exactly: the full tense-suffix tables and the fix_endings
  // normalization passes of the published algorithm are not carried.

  // ---- Tamil ---------------------------------------------------------
  // Reconstructed EMPIRICALLY against a local snowball-tamil oracle
  // (PostgreSQL ts_lexize('tamil_stem', ...) — the same upstream algorithm
  // rust_stemmers embeds), r18: ~4k generated (word → stem) pairs plus
  // targeted minimal-pair probes drove the pass structure and per-row
  // minimum-residual conditions below; the reference's own analyzer
  // vectors (filter.rs test_tamil_stemmer) remain the primary gate.
  // Agreement on the probe corpus is measured by the StemDev harness
  // (`StemDev tamil <tsv>`, test sources) rather than claimed; tail rows of the full Damodharan
  // tables (aux-verb chains like கொண்டிரு, rarer case stacks) are not
  // all carried.

  /** (suffix, replacement, minimum residual units BEFORE replacement). */
  private type TaRow = (String, String, Int)

  /** snowball `among` semantics: the LONGEST matching suffix commits —
    * if its residual condition fails, the whole pass fails (no fallback
    * to a shorter row; கிறார்கள் stays whole rather than losing கள்). */
  private def taStrip(w: String, rows: Seq[TaRow]): Option[String] =
    rows.sortBy(-_._1.length).find(r => w.endsWith(r._1)).flatMap {
      case (suf, r, m) =>
        if (w.length - suf.length >= m) Some(w.dropRight(suf.length) + r)
        else scala.None
    }

  /** fix_endings: end-of-word sandhi normalizations, POST-STRIP only
    * (bare கேட்ட stays; stripped அறிட்ட(ான்) becomes அறிடு). */
  private def taFix(w0: String): String = {
    var w = w0
    var changed = true
    while (changed) {
      changed = false
      def rep(suf: String, r: String, m: Int = 1): Boolean =
        if (w.endsWith(suf) && w.length - suf.length >= m) {
          w = w.dropRight(suf.length) + r; true
        } else false
      changed =
        rep("\u0b9f\u0bcd\u0b9f\u0bcd", "\u0b9f\u0bc1") ||  // ட்ட் → டு
        rep("\u0b9f\u0bcd\u0b9f", "\u0b9f\u0bc1") ||           // ட்ட → டு
        rep("\u0ba4\u0bcd\u0ba4\u0bcd", "\u0bae\u0bcd") ||  // த்த் → ம்
        rep("\u0bb1\u0bcd\u0bb1\u0bcd", "") ||                  // ற்ற் → ∅
        rep("\u0b95\u0bcd\u0b95\u0bcd", "") ||                  // க்க் → ∅
        rep("\u0ba9\u0bcd\u0bb1\u0bcd", "\u0bb2\u0bcd") ||  // ன்ற் → ல்
        rep("\u0ba9\u0bcd\u0bb1", "\u0bb2\u0bcd") ||           // ன்ற → ல்
        rep("\u0ba8\u0bcd\u0ba4\u0bcd", "") ||                  // ந்த் → ∅
        rep("\u0ba3\u0bcd\u0ba3\u0bcd", "\u0ba3\u0bcd") ||  // ண்ண் → ண்
        rep("\u0ba9\u0bcd\u0ba9\u0bcd", "\u0ba9\u0bcd") ||  // ன்ன் → ன்
        rep("\u0bb2\u0bcd\u0bb2\u0bcd", "\u0bb2\u0bcd") ||  // ல்ல் → ல்
        rep("\u0bb3\u0bcd\u0bb3\u0bcd", "\u0bb3\u0bcd") ||  // ள்ள் → ள்
        rep("\u0bae\u0bcd\u0bae\u0bcd", "\u0bae\u0bcd")     // ம்ம் → ம்
      if (!changed && w.length >= 3 && w.last == '\u0bcd') {
        val c = w(w.length - 2); val before = w(w.length - 3)
        val shortSigns = "\u0bbf\u0bc8\u0bc0" // ி ை ீ
        val isCons = before >= '\u0b95' && before <= '\u0bb9'
        val ok = shortSigns.indexOf(before) >= 0 || before == '\u0bcd'
        val stops = "\u0b95\u0b9a\u0b9f\u0ba4\u0baa"
        // final stop+virama deletes after ி/ை/ீ or a virama (வீட் → வீ,
        // வேண்ட் → வேண்); க் ALSO deletes after a bare consonant
        // (நடக் → நட) where the other stops stay (பத் keeps its த்);
        // never after a full vowel or the long signs (ஆக், பூக் stay);
        // ய் only after ி/ை/ீ (படிய் → படி; நாய் stays)
        if (stops.indexOf(c) >= 0 &&
            (ok || (c == '\u0b95' && isCons))) {
          w = w.dropRight(2); changed = true
        }
        else if (c == '\u0baf' &&
            "\u0bbf\u0bc8\u0bc0".indexOf(before) >= 0) {
          w = w.dropRight(2); changed = true
        }
        else if (c == '\u0bb5') { w = w.dropRight(2); changed = true } // வ்
      }
    }
    // a stranded virama after a vowel sign/vowel drops (படி் → படி —
    // person rows replace with ் even on sign-final stems)
    if (w.length >= 2 && w.last == '\u0bcd') {
      val b = w(w.length - 2)
      val sign = (b >= '\u0bbe' && b <= '\u0bcc') || (b >= '\u0b85' && b <= '\u0b94')
      if (sign) w = w.dropRight(1)
    }
    // final ங்: after a virama it deletes (உணர்ங் → உணர்); after a
    // consonant on long stems it restores the ம் (தேசங் → தேசம்)
    if (w.endsWith("\u0b99\u0bcd")) {
      if (w.length >= 3 && w(w.length - 3) == '\u0bcd') w = w.dropRight(2)
      else if (w.length > 4) w = w.dropRight(2) + "\u0bae\u0bcd"
    }
    w
  }

  /** Bare-word endings that normalize WITHOUT a prior strip (மரத்து →
    * மர; பத்து → பத் when the full strip would leave <2 units). */
  private def taBareFix(w0: String): String = {
    var w = w0
    if (w.endsWith("\u0ba4\u0bcd\u0ba4\u0bc1")) {           // த்து
      if (w.length - 4 >= 2) return taFix(w.dropRight(4))
      if (w.length - 2 >= 3) return w.dropRight(2)                 // just து
    }
    if (w.endsWith("\u0b95\u0bcd\u0b95\u0bc1") && w.length - 4 >= 2)
      return taFix(w.dropRight(4))                                    // க்கு
    if (w.endsWith("\u0ba8\u0bcd\u0ba4\u0bc1")) {           // ந்து
      if (w.length - 4 >= 2) return taFix(w.dropRight(4))
      if (w.length - 2 >= 3) return w.dropRight(2)
    }
    w
  }

  private val taPlural: Seq[TaRow] = Seq(
    ("\u0bb1\u0bcd\u0b95\u0bb3\u0bcd", "\u0bb2\u0bcd", 1), // ற்கள் → ல்
    ("\u0b9f\u0bcd\u0b95\u0bb3\u0bcd", "\u0bb3\u0bcd", 1), // ட்கள் → ள்
    ("\u0bbe\u0bb0\u0bcd\u0b95\u0bb3\u0bcd", "\u0bcd", 4), // ார்கள் → ் (கேட்டார்கள் → கேடு; கிறார்கள் stays whole)
    ("\u0bc0\u0bb0\u0bcd\u0b95\u0bb3\u0bcd", "\u0bcd", 4), // ீர்கள் → ்
    ("\u0bb0\u0bcd\u0b95\u0bb3\u0bcd", "\u0bb0\u0bcd", 1), // ர்கள் → ர்
    ("\u0bc1\u0b95\u0bcd\u0b95\u0bb3\u0bcd", "\u0bcd", 1), // ுக்கள் → ்
    ("\u0b95\u0bb3\u0bcd", "", 1))                               // கள் → ∅

  /** ுங்கள் (imperative/plural clitic): the stop consonants க/த/ட/ற
    * keep a ும் (போடுங்கள் → போடும்); everything else takes the bare
    * virama (பாருங்கள் → பார், செல்லுங்கள் → செல்ல் → செல்). */
  private def taUngal(w: String): Option[String] = {
    val suf = "\u0bc1\u0b99\u0bcd\u0b95\u0bb3\u0bcd"
    if (!w.endsWith(suf) || w.length - suf.length < 2) return scala.None
    val stemC = w(w.length - suf.length - 1)
    if ("\u0b95\u0ba4\u0b9f\u0bb1".indexOf(stemC) >= 0)
      Some(w.dropRight(suf.length) + "\u0bc1\u0bae\u0bcd")
    else Some(taFix(w.dropRight(suf.length) + "\u0bcd"))
  }

  private val taCommon0: Seq[TaRow] = Seq(
    ("\u0bc1\u0b9f\u0ba9\u0bcd", "\u0bcd", 2),                // ுடன் → ்
    ("\u0b95\u0bb3\u0bc1\u0b9f\u0ba9\u0bcd", "", 2),        // களுடன்
    ("\u0ba8\u0bcd\u0ba4\u0bc8", "", 1))                        // ந்தை
  private val taCommon: Seq[TaRow] = Seq(
    "\u0bbf\u0bb2\u0bcd\u0bb2\u0bc8",                          // ில்லை
    "\u0bbe\u0b95\u0bbf\u0baf",                                  // ாகிய
    "\u0bbe\u0b95\u0bbf",                                          // ாகி
    "\u0bc6\u0ba9\u0bcd\u0bb1\u0bc1",                          // ென்று
    "\u0bbf\u0ba9\u0bcd\u0bb1\u0bbf",                          // ின்றி
    "\u0bbe\u0bae\u0bb2\u0bcd",                                  // ாமல்
    "\u0bc1\u0bb3\u0bcd\u0bb3",                                  // ுள்ள
    "\u0bb5\u0bbf\u0b9f\u0bcd\u0b9f\u0bc1",                  // விட்டு
    "\u0baa\u0b9f\u0bcd\u0b9f\u0bc1",                          // பட்டு
    "\u0bb5\u0bbf\u0bb2\u0bcd\u0bb2\u0bc8",                  // வில்லை
    "\u0bb5\u0ba4\u0bbe\u0bb2\u0bcd",                          // வதால்
    "\u0bb5\u0ba4\u0bb1\u0bcd\u0b95\u0bc1",                  // வதற்கு
    "\u0bb5\u0ba4\u0bbf\u0bb2\u0bcd",                          // வதில்
    "\u0ba4\u0ba4\u0bbe\u0bb2\u0bcd",                          // ததால்
    "\u0ba4\u0ba4\u0bbf\u0bb2\u0bcd",                          // ததில்
    "\u0bbf\u0ba9\u0bcd\u0bb1\u0bc1"                           // ின்று
  ).map(x => (x, "", 2)) ++ taCommon0

  /** Vetrumai urupukal replaced by virama, gated on a DOUBLED consonant
    * before the suffix (மரத்தை → மரத்த் → மரம்; மீனை stays). */
  private val taCaseDoubled: Seq[String] = Seq(
    "\u0bc8",                                                          // ை
    "\u0bbf\u0bb2\u0bcd",                                          // ில்
    "\u0bbf\u0ba9\u0bcd",                                          // ின்
    "\u0bbe\u0bb2\u0bcd",                                          // ால்
    "\u0bc1\u0b95\u0bcd\u0b95\u0bc1",                          // ுக்கு
    "\u0bcb\u0b9f\u0bc1",                                          // ோடு
    "\u0bca\u0b9f\u0bc1",                                          // ொடு
    "\u0bbf\u0b9f\u0bae\u0bcd")                                   // ிடம்

  private val taCasePlain: Seq[TaRow] = Seq(
    ("\u0bbf\u0bb2\u0bbf\u0bb0\u0bc1\u0ba8\u0bcd\u0ba4\u0bc1",
      "\u0bbf\u0bb2\u0bcd", 1),                                    // ிலிருந்து → ில்
    ("\u0b95\u0bb3\u0bc1\u0b9f\u0bc8\u0baf", "", 4),        // களுடைய (எங்களுடைய stays)
    ("\u0bbf\u0ba9\u0bc1\u0b9f\u0bc8\u0baf", "\u0bcd", 1), // ினுடைய → ்
    ("\u0ba9\u0bc1\u0b9f\u0bc8\u0baf", "\u0ba9\u0bcd", 1), // னுடைய → ன்
    ("\u0bb3\u0bc1\u0b9f\u0bc8\u0baf", "\u0bb3\u0bcd", 1), // ளுடைய → ள்
    ("\u0bc1\u0b9f\u0bc8\u0baf", "\u0bcd", 3),                // ுடைய → ்
    ("\u0ba9\u0bbe\u0bb2\u0bcd", "\u0ba9\u0bcd", 1),        // னால் → ன் (ஆனால் → ஆன்)
    ("\u0ba9\u0bbf\u0b9f\u0bae\u0bcd", "\u0ba9\u0bcd", 1), // னிடம் → ன்
    ("\u0bb1\u0bcd\u0b95\u0bc1", "", 2),                        // ற்கு
    ("\u0b95\u0bb3\u0bbf\u0bb2\u0bcd", "", 2),                // களில்
    ("\u0b95\u0bb3\u0bbf\u0ba9\u0bcd", "", 2),                // களின்
    ("\u0b95\u0bb3\u0bc8", "", 2),                                // களை
    ("\u0b95\u0bb3\u0bbe\u0bb2\u0bcd", "", 2),                // களால்
    ("\u0ba4\u0bcd\u0ba4\u0bc1\u0b95\u0bcd\u0b95\u0bc1", "", 1), // த்துக்கு
    ("\u0b95\u0bb3\u0bbf\u0b9f\u0bae\u0bcd", "", 2),        // களிடம்
    ("\u0b95\u0bb3\u0bbf\u0bb2\u0bbf\u0bb0\u0bc1\u0ba8\u0bcd\u0ba4\u0bc1",
      "", 2),                                                             // களிலிருந்து
    ("\u0bc8\u0baf\u0bbf\u0bb2\u0bcd", "\u0bc8", 2),          // ையில் → ை
    ("\u0ba4\u0bcd\u0ba4\u0bc1\u0b95\u0bcd\u0b95\u0bbe\u0b95", "", 1), // த்துக்காக
    ("\u0bc1\u0b95\u0bcd\u0b95\u0bbe\u0b95", "\u0bcd", 2))  // ுக்காக → ்

  /** Tense person/number endings; minima measured by minimal pairs
    * (கிறேன → கிறே but என்ன stays; தவன stays). */
  // a person ending that carries a final virama REPLACES with a virama
  // (வந்தான் → வந்த் → fix → வ; சென்றான் → சென்ற் → செல்); the
  // virama-free fragment rows delete plainly (கிறேன → கிறே)
  private val taTenseEnd: Seq[TaRow] = Seq(
    ("\u0ba9\u0bbe\u0ba9\u0bcd", "", 2),   // னான்
    ("\u0ba9\u0bbe\u0bb3\u0bcd", "", 2),   // னாள்
    ("\u0ba9\u0bbe\u0bb0\u0bcd", "", 2),   // னார்
    ("\u0bbe\u0ba9\u0bcd", "\u0bcd", 4),   // ான் (கிறான் stays whole)
    ("\u0bbe\u0bb3\u0bcd", "\u0bcd", 4),   // ாள்
    ("\u0bbe\u0bb0\u0bcd", "\u0bcd", 4),   // ார்
    ("\u0bc7\u0ba9\u0bcd", "\u0bcd", 4),   // ேன்
    ("\u0bcb\u0bae\u0bcd", "\u0bcd", 4),   // ோம்
    ("\u0bc0\u0bb0\u0bcd", "\u0bcd", 4),   // ீர்
    ("\u0bbe\u0baf\u0bcd", "\u0bcd", 2),   // ாய் (நாய் stays)
    ("\u0ba4\u0bc1", "", 3),                    // து (எனது stays)
    ("\u0ba9", "", 4),                            // ன (fragment person)
    ("\u0baf", "", 3),                            // ய (fragment)
    ("\u0bb5\u0ba9\u0bcd", "", 2),            // வன் (படித்தவன் → …த்த → படி)
    ("\u0bb5\u0bb3\u0bcd", "", 2),            // வள்
    ("\u0bb5\u0bb0\u0bcd", "", 2),            // வர் (மாணவர் → மாண; அவர் stays)
    ("\u0ba9\u0bb0\u0bcd", "", 2),            // னர்
    ("\u0baa\u0ba9\u0bcd", "", 3),            // பன்
    ("\u0baa\u0bb0\u0bcd", "", 3),            // பர் (நண்பர் → நண்; பாடகர் stays)
    ("\u0baa\u0bb3\u0bcd", "", 3),            // பள்
    ("\u0ba4\u0bb2\u0bcd", "\u0bcd", 2))   // தல்

  /** Participle markers, stripped standalone or after a person ending. */
  private val taMarkers: Seq[TaRow] = Seq(
    ("\u0b95\u0bbf\u0ba9\u0bcd\u0bb1\u0bcd", "", 3), // கின்ற்
    ("\u0b95\u0bbf\u0ba9\u0bcd\u0bb1", "", 3),          // கின்ற
    ("\u0b95\u0bbf\u0ba9\u0bb1", "", 3),                   // கினற
    ("\u0b95\u0bbf\u0bb1\u0bcd", "", 3),                   // கிற்
    ("\u0b95\u0bbf\u0bb1", "", 3),                            // கிற
    ("\u0bbe\u0ba8\u0bbf\u0ba9\u0bcd\u0bb1", "", 3),  // ாநின்ற
    ("\u0ba8\u0bcd\u0ba4\u0bc1", "", 2),                   // ந்து
    ("\u0ba8\u0bcd\u0ba4", "", 1),                            // ந்த
    ("\u0ba4\u0bcd\u0ba4", "", 2),                            // த்த
    ("\u0baa\u0bcd\u0baa", "", 2),                            // ப்ப
    ("\u0b95\u0bcd\u0b95", "", 2),                            // க்க
    ("\u0ba4\u0bcd\u0ba4\u0bc1", "", 2),                     // த்து
    ("\u0ba4\u0bcd\u0ba4\u0bcd", "", 2),                     // த்த் (படித்தேன் → படி)
    ("\u0bbe\u0ba4", "", 2),                                     // ாத
    ("\u0bcd\u0ba4", "\u0bcd", 2),                            // ்த → ்
    ("\u0baf", "", 3),                                             // ய residue
    ("\u0bb5", "", 3))                                             // வ residue

  private val taTenseWhole: Seq[TaRow] = Seq(
    "\u0ba8\u0bcd\u0ba4\u0ba9\u0bb0\u0bcd",                        // ந்தனர்
    "\u0b95\u0bbf\u0ba9\u0bcd\u0bb1\u0ba9\u0bb0\u0bcd",        // கின்றனர்
    // the கொண்டிரு progressive composites strip whole, leaving the
    // participle the bare-ending fix resolves (நடந்துகொண்டிருக்கிறான்
    // → நடந்து → நட); the ந்தான் pasts stay at கொண்டிரு (oracle-pinned)
    "\u0b95\u0bca\u0ba3\u0bcd\u0b9f\u0bbf\u0bb0\u0bc1\u0b95\u0bcd\u0b95\u0bbf\u0bb1\u0bbe\u0ba9\u0bcd", // கொண்டிருக்கிறான்
    "\u0b95\u0bca\u0ba3\u0bcd\u0b9f\u0bbf\u0bb0\u0bc1\u0b95\u0bcd\u0b95\u0bbf\u0bb1\u0ba4\u0bc1",         // கொண்டிருக்கிறது
    "\u0b95\u0bca\u0ba3\u0bcd\u0b9f\u0bbf\u0bb0\u0bc1\u0b95\u0bcd\u0b95\u0bbf\u0bb1\u0bbe\u0bb3\u0bcd"  // கொண்டிருக்கிறாள்
  ).map(x => (x, "", 2))

  private def taDoubledBefore(w: String, at: Int): Boolean =
    at >= 3 && w(at - 1) == '\u0bcd' && w(at - 2) == w(at)

  private def taPipeline(w0: String, afterQuestion: Boolean = false): String = {
    var w = w0
    var any = false
    var caseBlocked = false
    // ும் clitic (வீடும் → வீ; மரமும் → மரம்)
    if (w.endsWith("\u0bc1\u0bae\u0bcd") && w.length - 3 >= 2 &&
        !w.endsWith("\u0bc1\u0b99\u0bcd\u0b95\u0bb3\u0bcd")) {
      // ும் REPLACES with a virama (மரமும் → மரம்; வீடும் → வீட் → வீ)
      w = taFix(w.dropRight(3) + "\u0bcd"); any = true
    } else if (afterQuestion &&
        w.endsWith("\u0bc1\u0bae") && w.length - 2 >= 2) {
      // the virama-free twin ONLY a question-vowel strip exposes
      // (வருமா → வரும → வர்; the fragment விரும stays whole)
      w = taFix(w.dropRight(2) + "\u0bcd"); any = true
    }
    taStrip(w, taCommon).foreach { x => w = taFix(x); any = true }
    // case: doubling-gated rows replace the suffix with a virama
    val sonorants = "\u0baf\u0bb0\u0bb2\u0bb5\u0bb4\u0bb3\u0ba3\u0ba9\u0bae\u0b99\u0b9e\u0ba8"
    taCaseDoubled.sortBy(-_.length).find { s =>
      w.endsWith(s) && w.length - s.length >= 3 &&
      !w.endsWith("\u0ba4\u0bcd\u0ba4\u0bc1\u0b95\u0bcd\u0b95\u0bc1") && {
        val at = w.length - s.length
        taDoubledBefore(w, at - 1) || w(at - 1) == '\u0bcd' ||
          // a sonorant stem-final admits the case suffix too (வீதியில் →
          // வீதி; அவளிடம் → அவள்) — ை keeps the doubling-only gate
          // (மீனை stays) and stops stay blocked (அதில் stays)
          (s != "\u0bc8" && sonorants.indexOf(w(at - 1)) >= 0)
      }
    } match {
      case Some(s) =>
        val at = w.length - s.length
        w = taFix(
          if (w(at - 1) == '\u0bcd') w.dropRight(s.length)
          else w.dropRight(s.length) + "\u0bcd")
        any = true
      case scala.None =>
        taStrip(w, taCasePlain) match {
          case Some(x) => w = taFix(x); any = true
          case scala.None =>
            // a case row that MATCHED but failed its residual condition
            // marks the word case-shaped: the tense stage must not nibble
            // at it (எங்களுடைய stays whole, not எங்களுடை)
            // only the long stacked rows suppress (எங்களுடைய); a bare
            // fragment like னுடைய still reaches the tense ய strip
            if (taCasePlain.exists(r => r._1.length >= 6 && w.endsWith(r._1)))
              caseBlocked = true
        }
    }
    taUngal(w) match {
      case Some(x) => w = x; any = true
      case scala.None =>
        taStrip(w, taPlural).foreach { x => w = taFix(x); any = true }
    }
    taStrip(w, if (caseBlocked) Nil else taTenseWhole) match {
      case Some(x) => w = taFix(x); any = true
      case scala.None if caseBlocked =>
      case scala.None =>
        // virama-carrying participle markers strip standalone FIRST
        // (நடந்து → நட before the bare-து person row sees it;
        // பார்த்த → பார், கந்த → க)
        val standalone = taMarkers.filter(r => r._1.contains('\u0bcd'))
        taStrip(w, standalone) match {
          case Some(x) => w = taFix(x); any = true
          case scala.None =>
            taStrip(w, taTenseEnd) match {
              case Some(x) =>
                // markers strip repeatedly (நடக்கிறது → நடக்கிற →
                // நடக்க → நட; படியாத → படிய → படி)
                var t = x
                var more = true
                while (more) taStrip(t, taMarkers) match {
                  case Some(n) => t = n
                  case scala.None => more = false
                }
                w = taFix(t); any = true
              case scala.None =>
            }
        }
    }
    // bare-ending normalization runs regardless (a tenseWhole strip can
    // expose a ந்து participle: நடந்துகொண்டிருக்கிறான் → நடந்து → நட)
    w = taBareFix(w)
    w
  }

  def tamil(word0: String): String = {
    if (word0.length <= 3) return word0 // has_min_length
    var w = word0
    // pronoun (அ/இ/உ) and question (எ) prefixes: vowel + consonant +
    // virama + the SAME consonant strips, then fix_va_start on the rest
    if (w.length >= 6 && "\u0b85\u0b87\u0b89\u0b8e".indexOf(w(0)) >= 0 &&
        w(2) == '\u0bcd' && w(1) == w(3)) {
      w = w.substring(3)
      for ((from, to) <- Seq(
          ("\u0bb5\u0bcb", "\u0b93"), ("\u0bb5\u0bca", "\u0b92"),
          ("\u0bb5\u0bc1", "\u0b89"), ("\u0bb5\u0bc2", "\u0b8a")))
        if (w.startsWith(from)) w = to + w.substring(2)
    }
    if (w.length <= 3) return w
    // speculative question-vowel strip (final ா/ோ/ே): commit only when
    // the rest of the pipeline makes progress on the stripped form
    val direct = taPipeline(w)
    if ("\u0bbe\u0bcb\u0bc7".indexOf(w.last) >= 0 && w.length >= 5) {
      val sonorants = "\u0baf\u0bb0\u0bb2\u0bb5\u0bb4\u0bb3\u0ba3\u0ba9\u0bae"
      val stripped = w.dropRight(1)
      // a sonorant-final residue takes the virama the clitic displaced
      // (புத்தகமா → புத்தகம்); other shapes commit only if the pipeline
      // progresses (வீடா stays, வருவானோ → வருவான் → வரு)
      val virama = sonorants.indexOf(stripped.last) >= 0
      val cand = if (virama) stripped + "\u0bcd" else stripped
      val alt = taPipeline(cand, afterQuestion = true)
      if (alt != stripped) return taFix(alt)
    }
    direct
  }
}
