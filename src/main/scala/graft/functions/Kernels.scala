package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.call_function

/** Every codegen'd `graft_*` Catalyst kernel, by name, and the one place
  * they reach a function registry — the classic-mode bridge from Column
  * expressions to custom Catalyst expressions. The kernels call the same
  * statics `Interp` calls, so the two engines agree by construction.
  *
  * Registration is per session because Spark's function registry is: a
  * `newSession()` starts from the built-ins alone, so a JVM-global "done"
  * flag would leave a second session unable to resolve `graft_*` names.
  * [[register]] adds only the kernels the session's registry lacks, so a
  * repeated call leaves the registry as it is (replacing an entry logs a
  * WARN each time). */
object Kernels {
  private type Builder = Seq[Expression] => Expression

  private val table: Map[String, Builder] = Map[String, Builder](
    // vector folds and Rust-semantics rounding (VectorKernels.scala)
    "graft_dot" -> (es => DotF(es.head, es(1))),
    "graft_l2" -> (es => L2F(es.head, es(1))),
    "graft_l1" -> (es => L1F(es.head, es(1))),
    "graft_l2sq" -> (es => L2SqF(es.head, es(1))),
    "graft_eqcount" -> (es => EqCountF(es.head, es(1))),
    "graft_round" -> (es => RoundRs(es.head)),
    "graft_fixed" -> (es => FixedRs(es.head, es(1))),
    "graft_ceil" -> (es => CeilFloorRs(es.head, up = true)),
    "graft_floor" -> (es => CeilFloorRs(es.head, up = false)),
    "graft_sign" -> (es => SignRs(es.head)),
    // string validators, case and hashes (StrCheck.scala)
    "graft_capitalize" -> (es => CapitalizeF(es.head)),
    "graft_joaat" -> (es => JoaatF(es.head)),
    "graft_blake3" -> (es => Blake3F(es.head)),
    // distances, similarities, stemming and sorts (StrSim.scala)
    "graft_jaro" -> (es => JaroF(es.head, es(1))),
    "graft_jaro_winkler" -> (es => JaroWinklerF(es.head, es(1))),
    "graft_sorensen_dice" -> (es => SorensenDiceF(es.head, es(1))),
    "graft_sort_arr" -> (es => SortArrF(es.head, es(1))),
    "graft_fuzzy" -> (es => FuzzyF(es.head, es(1))),
    "graft_damerau" -> (es => DamerauF(es.head, es(1))),
    "graft_hamming" -> (es => HammingF(es.head, es(1))),
    "graft_osa" -> (es => OsaF(es.head, es(1))),
    "graft_levenshtein" -> (es => LevenshteinF(es.head, es(1))),
    "graft_norm_levenshtein" -> (es => NormLevenshteinF(es.head, es(1))),
    "graft_norm_damerau" -> (es => NormDamerauF(es.head, es(1))),
    "graft_stem" -> (es => StemF(es.head, es(1))),
    "graft_words" -> (es => WordsF(es.head)),
    "graft_slug" -> (es => SlugF(es.head)),
    // `to_raw_string` (decimal suffixed `dec`) and `<string>`-cast
    // (decimal plain) renderings, strict numeric casts (RawStr.scala)
    "graft_rawstr" -> (es => RawStr(es.head, castMode = false)),
    "graft_caststr" -> (es => RawStr(es.head, castMode = true)),
    "graft_cast_int" -> (es => StrictNumCast(es.head, toInt = true)),
    "graft_cast_float" -> (es => StrictNumCast(es.head, toInt = false)),
    // URL and e-mail parts (UrlParse.scala)
    "graft_url_part" -> (es => UrlPartF(es.head, es(1))),
    "graft_url_port" -> (es => UrlPortF(es.head)),
    "graft_email_part" -> (es => EmailPartF(es.head, es(1))),
    // full-text analyzer and highlighter (Analyze.scala)
    "graft_analyze" -> (es => AnalyzeF(es.head, es(1))),
    "graft_highlight" -> (es => HighlightF(es.head, es(1))),
    "graft_highlight_fx" -> (es => HighlightFxF(es.head, es(1), es(2))),
    "graft_offsets" -> (es => OffsetsF(es.head, es(1))),
    // time rounding and formatting (TimeRound.scala)
    "graft_time_round" -> (es => TimeRoundF(es.head, es(1), es(2))),
    "graft_strftime" -> (es => StrftimeF(es.head, es(1))),
    // semantic versions (Semver.scala)
    "graft_semver_cmp" -> (es => SemverCmpF(es.head, es(1))),
    "graft_semver_get" -> (es => SemverGetF(es.head, es(1))),
    "graft_semver_upd" -> (es => SemverUpdF(es.head, es(1), es(2))),
    // HTML encoding and sanitising (Ammonia.scala), base64 (Codecs.scala)
    "graft_html_encode" -> (es => HtmlF(es.head, sanitize = false)),
    "graft_html_sanitize" -> (es => HtmlF(es.head, sanitize = true)),
    "graft_b64_decode" -> (es => B64DecodeF(es.head))) ++
    StrCheck.kinds.map(k =>
      s"graft_is_$k" -> ((es: Seq[Expression]) => StrCheckF(k, es.head))) ++
    Seq("argon2", "bcrypt", "scrypt", "pbkdf2").flatMap(scheme => Seq(
      s"graft_pw_${scheme}_generate" ->
        ((es: Seq[Expression]) => PwGenerateF(scheme, es.head)),
      s"graft_pw_${scheme}_compare" ->
        ((es: Seq[Expression]) => PwCompareF(scheme, es.head, es(1)))))

  /** Every kernel name, for specs that walk the whole table. */
  def names: Set[String] = table.keySet

  /** Register in `spark`'s registry the kernels it lacks. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { case (name, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }

  /** `call_function(name, cols*)` with the kernels registered in the active
    * session; a name missing from the table fails here, at lowering. */
  def call(name: String, cols: Column*): Column = {
    require(table.contains(name), s"no graft kernel named $name")
    val spark = SparkSession.active
    if (!spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)))
      register(spark)
    call_function(name, cols: _*)
  }
}
