package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.surql.Snowball

/** Porter2 (Snowball English) pinned against known pairs from the published
  * sample vocabulary (snowballstem.org) — exceptional forms, each step's
  * rules, and the R1/R2 region logic. The reference applies this stemmer via
  * rust_stemmers in its analyzer chain (idx/ft/analyzer/filter.rs:39). */
class SnowballSpec extends AnyFunSuite {

  private val englishPairs = Seq(
    // step 1a / plurals
    "ties" -> "tie", "cries" -> "cri", "gas" -> "gas", "gaps" -> "gap",
    "kiwis" -> "kiwi", "this" -> "this", "caresses" -> "caress",
    // exceptional forms
    "dying" -> "die", "lying" -> "lie", "sky" -> "sky", "news" -> "news",
    "early" -> "earli", "only" -> "onli", "skies" -> "sky", "bias" -> "bias",
    // step-1a exceptions (invariant after plural removal)
    "inning" -> "inning", "exceed" -> "exceed", "proceed" -> "proceed",
    // step 1b with fixups
    "hopping" -> "hop", "hoping" -> "hope", "hoped" -> "hope",
    "luxuriating" -> "luxuri", "fitting" -> "fit", "arguing" -> "argu",
    "argued" -> "argu", "running" -> "run",
    // step 1c
    "happy" -> "happi", "cry" -> "cri", "by" -> "by", "say" -> "say",
    // steps 2-4 (suffix chains and regions)
    "consign" -> "consign", "consigned" -> "consign",
    "consigning" -> "consign", "consignment" -> "consign",
    "consist" -> "consist", "consistency" -> "consist",
    "consolation" -> "consol", "knightly" -> "knight",
    "abilities" -> "abil", "agreement" -> "agreement",
    "national" -> "nation", "rational" -> "ration",
    "generously" -> "generous", "communication" -> "communic",
    "electricity" -> "electr", "electrical" -> "electr",
    "beautiful" -> "beauti", "beautifully" -> "beauti",
    "sensitivity" -> "sensit", "controlled" -> "control",
    "knavish" -> "knavish", "kneaded" -> "knead")

  englishPairs.foreach { case (in, want) =>
    test(s"porter2: $in -> $want") {
      assertResult(want)(Snowball.english(in))
    }
  }

  test("porter2 is idempotent over its own output") {
    englishPairs.foreach { case (in, _) =>
      val once = Snowball.english(in)
      // stemming a stem may shorten further in rare chains, but must never
      // throw and must stabilize within one more application
      val twice = Snowball.english(once)
      assertResult(Snowball.english(twice))(twice)
    }
  }

  test("scandinavian stemmers strip definite/plural suffixes") {
    // Swedish: jaktkarlarne -> jaktkarl (classic sample), klokaste -> klok
    assertResult("jaktkarl")(Snowball.swedish("jaktkarlarne"))
    assertResult("klok")(Snowball.swedish("klokaste"))
    // Norwegian: huset -> hus (definite), billigere -> billig-
    assertResult("hus")(Snowball.norwegian("huset"))
    // Danish: hesten -> hest
    assertResult("hest")(Snowball.danish("hesten"))
    // unknown language falls back to identity
    assertResult("walking")(Snowball.stem("klingon", "walking"))
  }

  test("snowball filter stems inside the analyzer chain") {
    val in = new graft.surql.Interp
    in.run(graft.surql.Parser.parse(
      "DEFINE ANALYZER eng TOKENIZERS blank,class FILTERS lowercase,snowball(english);"))
    val r = in.run(graft.surql.Parser.parse(
      "RETURN search::analyze('eng', 'The hopping rabbits consistently analyzed beautifully');"))
    val graft.surql.QOk(v) = r.last: @unchecked
    val terms = v match {
      case graft.surql.VArr(xs) => xs.collect { case graft.surql.VStr(s) => s }
      case _ => fail(s"unexpected analyze result: $v")
    }
    assert(terms == Vector("the", "hop", "rabbit", "consist", "analyz", "beauti"),
      s"got $terms")
  }

  test("german stemmer: suffix steps, umlaut removal, regions") {
    val pairs = Seq(
      "häuser" -> "haus",             // step 1 `er` + umlaut postlude
      "kategorie" -> "kategori",      // step 1 `e`
      "aufgabe" -> "aufgab",
      "bezeichnungen" -> "bezeichn",  // step 1 `en` + step 3 `ung`
      "möglichkeit" -> "moglich",     // step 3 `keit` (lich survives: not in R2)
      "schönheit" -> "schonheit",     // `heit` outside R2 — only the umlaut goes
      // R2 computed over the SAME vowel set as the R1 scan: prelude-marked
      // intervocalic u/y stay consonants (the r12 fix this pins)
      "betreuung" -> "betreu")
    pairs.foreach { case (in, want) =>
      assertResult(want, s"german($in)")(Snowball.german(in))
    }
  }

  test("spanish stemmer: RV verb suffixes, residuals, deaccenting") {
    val pairs = Seq(
      "comiendo" -> "com",        // gerund in RV
      "corriendo" -> "corr",
      "canciones" -> "cancion",   // verb-suffix `es`
      "importancia" -> "import",  // step 1 `ancia`
      "guerra" -> "guerr",        // residual `a`
      "lógica" -> "logic",        // residual + deaccent
      // step 0 deaccents only the matched gerund/infinitive suffix, not the
      // whole stem (the r12 fix this pins): attached-pronoun forms
      "haciéndola" -> "hac", "enviándolo" -> "envi",
      // nested-suffix R2 checks run against the CURRENT word after the
      // outer drop (amente → iv chain) — the stale-offset fix this pins
      "efectivamente" -> "efect")
    pairs.foreach { case (in, want) =>
      assertResult(want, s"spanish($in)")(Snowball.spanish(in))
    }
  }

  test("italian stemmer: suffix steps, verb suffixes, final-vowel removal") {
    val pairs = Seq(
      "abbandonata" -> "abbandon",  // verb suffix `ata` in RV
      "pericolosa" -> "pericol",    // step 1 `osa` in R2
      "nazione" -> "nazion",        // `azione` fails R2 → step 3a final e
      "comunicazione" -> "comun",   // `azione` + preceding `ic` in R2
      "felicità" -> "felic",        // `ità` in R2 (ic fails R2)
      "caratteristiche" -> "caratterist", // step 1 `iche`
      "mangiandolo" -> "mang",      // step 0 pronoun -lo after `ando`, then 3a
      "lettere" -> "lett")          // verb suffix `ere` in RV
    pairs.foreach { case (in, want) =>
      assertResult(want, s"italian($in)")(Snowball.italian(in))
    }
  }

  test("portuguese stemmer: suffix steps, verb suffixes, residuals") {
    val pairs = Seq(
      "grandeza" -> "grandez",    // `eza` fails R2 → residual `a` in RV
      "falando" -> "fal",         // verb `ando`
      "bonita" -> "bonit",        // residual `a`
      "comemorava" -> "comemor",  // verb `ava`
      "felicidade" -> "felic",    // `idade` in R2 (ic fails R2)
      "lealdade" -> "lealdad",    // step 5 final `e`
      "importante" -> "import")   // `ante` in R2
    pairs.foreach { case (in, want) =>
      assertResult(want, s"portuguese($in)")(Snowball.portuguese(in))
    }
  }

  test("french stemmer: standard suffixes, verb suffixes, residuals, un-accent") {
    val pairs = Seq(
      "grandement" -> "grand",     // `ement` in RV
      "justement" -> "just",
      "nationale" -> "national",   // step 4 residual `e`
      "montaient" -> "mont",       // 2b `aIent` (prelude-marked I)
      "propositions" -> "proposit", // 2b `ions` in R2
      "complète" -> "complet")     // residual `e` + step 6 un-accent
    pairs.foreach { case (in, want) =>
      assertResult(want, s"french($in)")(Snowball.french(in))
    }
  }

  test("dutch stemmer: en/e removal, d-suffixes, vowel undoubling") {
    val pairs = Seq(
      "gekken" -> "gek",          // `en` + consonant undouble
      "appels" -> "appel",        // `s` after valid s-ending
      "huizen" -> "huiz",
      "lichamelijk" -> "licham",  // `lijk` in R2
      "maan" -> "man",            // step 4 vowel undouble (spec example)
      "dringende" -> "dringend")  // step 2 `e` (end fails R2)
    pairs.foreach { case (in, want) =>
      assertResult(want, s"dutch($in)")(Snowball.dutch(in))
    }
  }

  test("russian stemmer: noun/adjective/verb endings, derivational ость") {
    val pairs = Seq(
      "книгами" -> "книг",        // noun `ами`
      "красивый" -> "красив",     // adjective `ый`
      "читала" -> "чита",         // verb `ла` after `а` (the `а` stays)
      "быстрее" -> "быстр",       // adjective `ее`
      "должность" -> "должност")  // noun `ь`; `ост` outside R2 survives
    pairs.foreach { case (in, want) =>
      assertResult(want, s"russian($in)")(Snowball.russian(in))
    }
  }

  test("mapper filter lemmatizes through the analyzer chain") {
    val lemmaFile = "/root/reference/tests/data/lemmatization-en.txt"
    assume(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(lemmaFile)),
      "reference lemmatization file not present")
    val in = new graft.surql.Interp
    in.run(graft.surql.Parser.parse(
      "DEFINE ANALYZER lem TOKENIZERS blank,class FILTERS lowercase," +
        s"mapper('$lemmaFile');"))
    val r = in.run(graft.surql.Parser.parse(
      "RETURN search::analyze('lem', 'Went cars unmappedword');"))
    val graft.surql.QOk(v) = r.last: @unchecked
    val terms = v match {
      case graft.surql.VArr(xs) => xs.collect { case graft.surql.VStr(s) => s }
      case other => fail(s"unexpected analyze result: $other")
    }
    // went -> go, cars -> car; duplicate-form lines overwrite (better ->
    // well, the later line) like the reference's tree insert; unknown
    // terms pass through
    assert(terms == Vector("go", "car", "unmappedword"), s"got $terms")
    assert(graft.surql.Search.mapperTable(lemmaFile)("better") == "well")
  }
}
