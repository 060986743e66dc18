package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.columns.ColumnNs.q

/** Scalar / expression function library — SURVEY.md §2.5 (F1-F22).
  *
  * Everything here is a composition of `org.apache.spark.sql.functions._`
  * builtins (whole-stage-codegen friendly, no UDFs) unless explicitly
  * noted. Reference citations point into `/root/reference/`.
  */
object Fns {

  // --------------------------------------------------------------------
  // F7 / F17 — to_slug / sanitize_title
  // WP `sanitize_title(prefix + s)`: strip tags, fold accents, lowercase,
  // non-alnum -> '-', collapse dashes, trim dashes.
  // Reference: lib/Classes/Transform/Transformers/ToSlug.php:34-46.
  // Accent folding is a fixed `translate` (codegen'd) over the Latin-1 +
  // Latin-Extended-A range WP's remove_accents covers most often; exact
  // byte parity with WP's full table is a documented non-goal (the
  // reference itself degrades to identity when WP is absent,
  // ToSlug.php:41-43).
  // --------------------------------------------------------------------
  private val accentGroups: Seq[(String, Char)] = Seq(
    "àáâãäåāăąÀÁÂÃÄÅĀĂĄ" -> 'a',
    "çćĉċčÇĆĈĊČ"         -> 'c',
    "èéêëēĕėęěÈÉÊËĒĔĖĘĚ" -> 'e',
    "ìíîïĩīĭįÌÍÎÏĨĪĬĮ"   -> 'i',
    "ñńņňÑŃŅŇ"           -> 'n',
    "òóôõöøōŏőÒÓÔÕÖØŌŎŐ" -> 'o',
    "ùúûüũūŭůűÙÚÛÜŨŪŬŮŰ" -> 'u',
    "ýÿÝŸ"               -> 'y',
    "šśŠŚ"               -> 's',
    "žźżŽŹŻ"             -> 'z',
    "ðÐ"                 -> 'd',
    "ğĝĞĜ"               -> 'g',
    "ťţŤŢ"               -> 't',
    "łŁ"                 -> 'l')
  private val (accented, plain) = accentGroups
    .flatMap { case (cs, t) => cs.map(ch => (ch, t)) }.unzip

  /** accent char -> base char (shared with the native slug expression). */
  private[graft] val accentMap: Map[Char, Char] = accented.zip(plain).toMap

  def foldAccents(c: Column): Column =
    translate(c, accented.mkString, plain.mkString)

  def toSlug(c: Column): Column = {
    val noTags  = regexp_replace(c, "<[^>]*>", "")
    val lowered = foldAccents(lower(trim(noTags)))
    val alnum   = regexp_replace(lowered, "[^a-z0-9\\s_-]", "")
    val dashed  = regexp_replace(alnum, "[\\s_-]+", "-")
    regexp_replace(regexp_replace(dashed, "^-+", ""), "-+$", "")
  }

  def toSlug(c: Column, prefix: String): Column =
    toSlug(concat(lit(prefix), c))

  // --------------------------------------------------------------------
  // F8 — to_explode(delim, ref): split on a literal delimiter, trim each
  // piece. Produces an ARRAY VALUE; does NOT multiply rows.
  // Reference: lib/Classes/Transform/Transformers/Explode.php:37-49.
  // --------------------------------------------------------------------
  def explodeToArray(c: Column, delim: String): Column =
    transform(split(c, java.util.regex.Pattern.quote(delim)), x => trim(x))

  // --------------------------------------------------------------------
  // F9 — compare_set_null(ref, v): value == v -> null.
  // Reference: CompareSetNull.php:38-50.
  // --------------------------------------------------------------------
  def compareSetNull(c: Column, v: Any): Column = nullif(c, lit(v))

  // --------------------------------------------------------------------
  // F10 — string_to_null(s): for EVERY string column, value == s -> null.
  // Reference: StringToNullTransformer.php:43-55 (compares the string
  // against every entry; non-string entries never equal it).
  // --------------------------------------------------------------------
  def stringToNull(df: DataFrame, s: String): DataFrame = {
    val stringCols = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }.toSet
    val cols = df.columns.map { c =>
      if (stringCols(c)) nullif(q(c), lit(s)).as(c) else q(c)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  // --------------------------------------------------------------------
  // F13 — date normalization: accept `yyyy-MM-dd HH:mm:ss` or any
  // ISO-8601; invalid -> now(). Reference: WPPostsLoader.php:254-269.
  // --------------------------------------------------------------------
  def normalizeDate(c: Column): Column =
    coalesce(
      try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(c),
      current_timestamp())

  // --------------------------------------------------------------------
  // F14 — DateTime -> ISO-8601/ATOM string on output.
  // Reference: EntryNormalizer.php:21; WordPressPostLoader.php:50.
  // --------------------------------------------------------------------
  def toIso8601(c: Column): Column =
    date_format(c, "yyyy-MM-dd'T'HH:mm:ssXXX")

  // --------------------------------------------------------------------
  // F15 — sanitize_text_field: strip tags, collapse whitespace, trim,
  // drop %-encoded octets. Reference: WPPostsLoader.php:169,177.
  // --------------------------------------------------------------------
  def sanitizeTextField(c: Column): Column = {
    val noTags   = regexp_replace(c, "<[^>]*>", "")
    val noOctets = regexp_replace(noTags, "%[a-fA-F0-9]{2}", "")
    trim(regexp_replace(noOctets, "[\\r\\n\\t ]+", " "))
  }

  // --------------------------------------------------------------------
  // F16 — sanitize_key: lowercase; keep only [a-z0-9_-].
  // Reference: WPPostsLoader.php:187,193; WPPostMetaLoader.php:118.
  // --------------------------------------------------------------------
  def sanitizeKey(c: Column): Column =
    regexp_replace(lower(c), "[^a-z0-9_-]", "")

  // --------------------------------------------------------------------
  // F18 — wp_kses_post-style HTML allow-list. Strips <script>/<style>
  // with their content, strips event handlers and disallowed tags while
  // keeping inner text. Exact parity with WP's kses is a documented
  // non-goal (SURVEY.md §7.4-4); this covers the safety semantics.
  // Reference: WPPostsLoader.php:182; WPUserLoader.php:191.
  // --------------------------------------------------------------------
  private val ksesAllowed = Seq(
    "a", "abbr", "b", "blockquote", "br", "cite", "code", "del", "dd", "div",
    "dl", "dt", "em", "figcaption", "figure", "h1", "h2", "h3", "h4", "h5",
    "h6", "hr", "i", "img", "li", "ol", "p", "pre", "q", "s", "span",
    "strike", "strong", "sub", "sup", "table", "tbody", "td", "tfoot", "th",
    "thead", "tr", "u", "ul")

  def ksesPost(c: Column): Column = {
    val noScript = regexp_replace(c,
      "(?is)<(script|style)[^>]*>.*?</\\1>", "")
    val disallowed = regexp_replace(noScript,
      "(?i)</?(?!(?:" + ksesAllowed.mkString("|") + ")\\b)[a-zA-Z][^>]*>", "")
    // strip inline event handlers + javascript: URLs inside kept tags
    val noHandlers = regexp_replace(disallowed,
      "(?i)\\s+on[a-z]+\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>]+)", "")
    regexp_replace(noHandlers, "(?i)(href|src)\\s*=\\s*([\"']?)\\s*javascript:[^\"'\\s>]*\\2", "")
  }

  // --------------------------------------------------------------------
  // F19 — absint. Reference: WPPostsLoader.php:200,231.
  // --------------------------------------------------------------------
  def absInt(c: Column): Column = abs(c.cast("long"))

  // --------------------------------------------------------------------
  // F20 — esc_url_raw / sanitize_email / sanitize_user.
  // Reference: WPUserLoader.php:146-166; WPMediaLoader.php:212.
  // --------------------------------------------------------------------
  def escUrlRaw(c: Column): Column = {
    // PHP's byte-wise [\x80-\xff] keeps EVERY non-ASCII char (all bytes of a
    // multibyte UTF-8 char are >= 0x80), so parity means allowing the whole
    // non-ASCII plane, not just U+0080-U+00FF.
    val cleaned = regexp_replace(trim(c), "[^a-zA-Z0-9\\-~+_.?#=!&;,/:%@$|*'()\\[\\]\\x80-\\x{10FFFF}]", "")
    when(cleaned.rlike("(?i)^(https?|ftp|ftps|mailto|news|irc|gopher|nntp|feed|telnet)://|^/|^#|^\\?"), cleaned)
      .otherwise(when(cleaned === "", "").otherwise(concat(lit("http://"), cleaned)))
  }

  def sanitizeEmail(c: Column): Column = {
    val cleaned = regexp_replace(trim(c), "[^a-zA-Z0-9.!#$%&'*+/=?^_`{|}~@\\-]", "")
    when(cleaned.rlike("^[^@]+@[^@]+\\.[^@]+$"), lower(cleaned)).otherwise(lit(""))
  }

  def sanitizeUser(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "<[^>]*>", ""), "[^A-Za-z0-9 _.\\-@]", ""))

  // --------------------------------------------------------------------
  // F21 — UTF-8 repair + strip tags for term names: drop unpaired
  // surrogates / control chars, then strip tags + collapse whitespace.
  // Reference: WPTermsLoader.php:240-243.
  // --------------------------------------------------------------------
  def repairText(c: Column): Column =
    sanitizeTextField(regexp_replace(c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\uFFFD]", ""))

  // --------------------------------------------------------------------
  // F22 — numeric type preservation: numeric string -> long or double by
  // value. One Spark column must have one type, so the typed variants are
  // split out; `numericTag` carries the reference's per-value dynamic
  // type as a tag column. Reference: WPPostMetaLoader.php:179-181.
  // --------------------------------------------------------------------
  def asLongIfIntegral(c: Column): Column =
    when(c.rlike("^-?\\d+$"), c.cast("long"))

  def numericTag(c: Column): Column =
    when(c.rlike("^-?\\d+$"), lit("long"))
      .when(c.rlike("^-?\\d+\\.\\d+$"), lit("double"))
      .otherwise(lit("string"))

  // --------------------------------------------------------------------
  // F12 — `%%key%%` placeholder interpolation with a STATIC token map:
  // fold of literal replaces (codegen'd, no UDF). The per-row dynamic-map
  // variant used by media substitution lives in MediaPlaceholders.
  // Reference: lib/Classes/Load/Loaders/WordPressMediaLoader.php:96-148.
  // --------------------------------------------------------------------
  def replaceTokens(c: Column, tokens: Map[String, Column]): Column =
    tokens.foldLeft(c) { case (acc, (k, v)) =>
      replace(acc, lit(s"%%$k%%"), coalesce(v.cast("string"), lit("")))
    }

  /** F12 dynamic variant: substitute every `%%token%%` occurring in `c`
    * from a per-row `map<string,string>` column; unresolved tokens become
    * empty (WordPressMediaLoader.php:134-138 drops empties). Implemented
    * as a UDF — the token set is data-dependent per row, which no builtin
    * expresses. */
  private val tokenRe = "%%([A-Za-z0-9_.]+)%%".r

  val interpolateUdf = udf { (s: String, m: Map[String, String]) =>
    if (s == null) null
    else {
      val mm = if (m == null) Map.empty[String, String] else m
      tokenRe.replaceAllIn(s, mt =>
        java.util.regex.Matcher.quoteReplacement(mm.getOrElse(mt.group(1), "")))
    }
  }

  /** Native codegen'd form ([[graft.plans.InterpolateExpression]]) —
    * the caller's session must have `GraftExtensions.register` run
    * (every pipeline entry point does). The UDF twin above stays as the
    * reference semantics for the equivalence property spec. */
  def interpolate(c: Column, tokenMap: Column): Column =
    call_function("graft_interpolate", c, tokenMap)

  // --------------------------------------------------------------------
  // F11 — simple_transformer: arbitrary function over the whole Row — the
  // UDF escape hatch. Reference: SimpleTransformer.php:45-51, DSL
  // functions.php:64-66. Callers pass a Scala fn over Row applied to
  // struct(cols).
  // --------------------------------------------------------------------
  def simpleTransformer(fn: org.apache.spark.sql.Row => String, cols: Seq[Column]): Column = {
    val u = udf(fn)
    u(struct(cols: _*))
  }

  // --------------------------------------------------------------------
  // F6 convenience (uuid_v4()) — a direct builtin.
  // Reference: Load/Orchestrator.php:100.
  // --------------------------------------------------------------------
  def uuidV4: Column = expr("uuid()")
}
