package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar function library (SURVEY §2.8 F1–F20) — all pure Column
  * algebra over Spark built-ins; no UDFs, codegen-friendly.
  */
object ScalarFunctions {

  /** F1 — whitespace normalize: strip, collapse runs of ≥2 whitespace
    * to one space, empty → null.
    * reference: scrapers_v2/schema_adapter.py:21-26
    */
  def normalizeText(c: Column): Column = {
    val t = trim(regexp_replace(c, "\\s{2,}", " "))
    when(t === "" || c.isNull, lit(null).cast("string")).otherwise(t)
  }

  /** F12 — uuid5-style deterministic entity id:
    * `{prefix}_{cleanId}_{uuid5(NAMESPACE_DNS, "prefix:identifier").hex[:8]}`.
    * The first 8 hex chars of a v5 UUID are the first 4 bytes of
    * SHA-1(namespace ‖ name) — untouched by the version/variant bit
    * patching (bytes 6 and 8) — so sha1 over the namespace bytes plus
    * the name reproduces them exactly.
    * reference: schema_adapter_enhanced.py:424-427
    */
  def entityId(prefix: String, identifier: Column): Column = {
    val nsDns = lit(Array[Byte](
      0x6b, 0xa7.toByte, 0xb8.toByte, 0x10, 0x9d.toByte, 0xad.toByte,
      0x11, 0xd1.toByte, 0x80.toByte, 0xb4.toByte, 0x00, 0xc0.toByte,
      0x4f, 0xd4.toByte, 0x30, 0xc8.toByte))
    val cleanId = regexp_replace(lower(identifier), "[^a-zA-Z0-9_-]", "_")
    val hex8 = substring(
      sha1(concat(nsDns, encode(concat(lit(prefix + ":"), identifier), "UTF-8"))),
      1, 8)
    concat(lit(prefix + "_"), cleanId, lit("_"), hex8)
  }

  /** F12 — sha256 composite dedup key: lower/trim each part, None →
    * "none", join with '|'. reference: scrapers_v2/schema_adapter.py:28-32
    */
  def compositeId(parts: Column*): Column =
    sha2(concat_ws("|",
      parts.map(p => coalesce(lower(trim(p)), lit("none"))): _*), 256)

  /** F7 — price extraction from free text: "free"/"gratis" → (0.0, EUR);
    * else first `[€$£]? amount [€$£|ISO]?` occurrence, ','→'.' decimal,
    * symbol → ISO code, default EUR.
    * reference: scrapers_v2/schema_adapter.py:71-105
    */
  def extractPrice(priceText: Column): Column = {
    val txt = lower(trim(priceText))
    val pat = "(?i)(?:from\\s*)?([€$£])?\\s*(\\d+(?:[.,]\\d{1,2})?)\\s*([€$£]|[A-Z]{3})?"
    val symBefore = regexp_extract(txt, pat, 1)
    val amountStr = regexp_extract(txt, pat, 2)
    val symAfter = regexp_extract(txt, pat, 3)
    // amountStr already matches \d+([.,]\d{1,2})? — after ','→'.'
    // it is always a valid double literal, and the branch below only
    // evaluates it when non-empty.
    val amount = translate(amountStr, ",", ".").cast("double")
    val currency =
      when(symBefore === "€" || symAfter === "€" || lower(symAfter) === "eur", "EUR")
        .when(symBefore === "$" || symAfter === "$" || lower(symAfter) === "usd", "USD")
        .when(symBefore === "£" || symAfter === "£" || lower(symAfter) === "gbp", "GBP")
        .when(length(symAfter) === 3, upper(symAfter))
        .otherwise("EUR")
    val noMatch = amountStr === "" || amountStr.isNull
    when(txt.isNull, struct(lit(null).cast("double").as("price"),
        lit(null).cast("string").as("currency")))
      .when(txt.contains("free") || txt.contains("gratis"),
        struct(lit(0.0).as("price"), lit("EUR").as("currency")))
      .when(noMatch, struct(lit(null).cast("double").as("price"),
        lit(null).cast("string").as("currency")))
      .otherwise(struct(amount.as("price"), currency.as("currency")))
  }

  /** F8 — currency amount normalize: strip symbols/spaces/commas,
    * validate ISO code against the 8 accepted, else EUR.
    * reference: schema_adapter_enhanced.py:158-175
    */
  def normalizeCurrency(amount: Column, currency: Column): Column = {
    val cleaned = regexp_replace(amount.cast("string"), "[€$£¥₹\\s,]", "")
    val amt = when(cleaned.rlike("^\\d+(\\.\\d+)?$"), cleaned.cast("double"))
      .otherwise(lit(null).cast("double"))
    val curr = when(upper(currency).isin(
      "EUR", "USD", "GBP", "JPY", "INR", "AUD", "CAD", "CHF"), upper(currency))
      .otherwise("EUR")
    struct(amt.as("amount"), curr.as("currency"))
  }

  /** F2 — HTML-entity unescape (the reference calls Python
    * html.unescape; reference: scrapers_v2/data_quality/cleaning.py:
    * 21-32). Single-pass codegen'd Expression: full numeric-ref
    * (`&#NNN;`/`&#xHH;`) parity with Python's WHATWG rules, named
    * subset for the entities event pages contain — see
    * [[HtmlUnescape]].
    */
  def htmlUnescape(c: Column): Column = HtmlUnescape.htmlUnescape(c)

  /** F9 — URL normalize: prepend https:// when schemeless; null when no
    * host parses. reference: schema_adapter_enhanced.py:90-105
    */
  def normalizeUrl(url: Column): Column = {
    val withScheme = when(
      url.startsWith("http://") || url.startsWith("https://"), url)
      .otherwise(concat(lit("https://"), url))
    when(url.isNull || url === "", lit(null).cast("string"))
      .when(try_parse_url(withScheme, lit("HOST")).isNotNull, withScheme)
      .otherwise(lit(null).cast("string"))
  }

  /** F13 — event-type heuristic from title/venue keywords.
    * reference: schema_adapter_enhanced.py:570-583
    */
  def eventType(title: Column, venue: Column): Column = {
    val t = lower(coalesce(title, lit("")))
    val v = lower(coalesce(venue, lit("")))
    when(t.contains("festival") || t.contains("fest"), "festival")
      .when(v.contains("beach") || v.contains("pool") || v.contains("outdoor"), "day_party")
      .when(t.contains("live") || t.contains("concert") || t.contains("band"), "concert")
      .otherwise("club_night")
  }

  /** Shape-gated format attempt: only run the (expensive,
    * exception-driven-on-failure) DateTimeFormatter when a cheap regex
    * says the string has the right shape. Gates are PERMISSIVE — they
    * may admit strings the format then rejects (try_to_timestamp still
    * nulls those), but must never reject a string the format would
    * accept, so gated ladders parse exactly what ungated ones did.
    */
  private def tryFmt(c: Column, gate: String, fmt: String): Column =
    when(c.rlike(gate), try_to_timestamp(c, lit(fmt)))
      .otherwise(lit(null).cast("timestamp"))

  /** F3 (ibiza variant) — day-name strip + multi-format date parse with
    * 23:00 default event time, UTC. Output canonical ISO
    * yyyy-MM-dd'T'HH:mm:ss'Z' (SURVEY §7.3 risk 2).
    * reference: schema_adapter_enhanced.py:242-270
    */
  def parseIbizaDate(timeStr: Column): Column =
    parseIbizaCleaned(ibizaDateText(timeStr))

  /** The ibiza parser's input: whitespace-normalized, a leading day
    * name stripped. */
  def ibizaDateText(timeStr: Column): Column =
    trim(regexp_replace(normalizeText(timeStr),
      "(?i)^(monday|tuesday|wednesday|thursday|friday|saturday|sunday)\\s+", ""))

  /** [[parseIbizaDate]] over an [[ibizaDateText]] result — the form for
    * a caller that computes the cleaned text once per row. */
  def parseIbizaCleaned(cleaned: Column): Column = {
    val d = coalesce(
      tryFmt(cleaned, "^\\d{1,2} \\p{L}", "d MMMM yyyy"),
      tryFmt(cleaned, "^\\d{1,2} \\p{L}", "d MMM yyyy"),
      tryFmt(cleaned, "^\\d{1,2}/", "d/M/yyyy"),
      tryFmt(cleaned, "^\\d{4}-", "yyyy-MM-dd"))
    when(d.isNull, lit(null).cast("string"))
      .otherwise(date_format(d + expr("INTERVAL 23 HOURS"),
        "yyyy-MM-dd'T'HH:mm:ss'Z'"))
  }

  /** F3 (universal variant) — the UniversalValidator.validate_datetime
    * format ladder (reference: schema_adapter_enhanced.py:108-141):
    * offset-bearing ISO, literal-Z ISO, space-separated, date-only,
    * slashed/dashed day-first with time, long-form "at" phrasing, and
    * "d MMMM yyyy" — first match wins, naive timestamps are treated as
    * UTC, output is canonical ISO.
    *
    * `yearContext` mirrors scrapers_v2/schema_adapter.py:46-47: a
    * string with no 4-digit year gets the context year appended before
    * parsing, so "15 July" resolves against the scrape year.
    */
  def parseDateTimeMulti(dateStr: Column,
      yearContext: Option[Int] = None): Column = {
    val cleaned0 = trim(dateStr)
    val cleaned = yearContext match {
      case Some(y) => when(cleaned0.rlike("\\b\\d{4}\\b"), cleaned0)
        .otherwise(concat(cleaned0, lit(s" $y")))
      case None => cleaned0
    }
    val parsed = coalesce(
      tryFmt(cleaned, "^\\d{4}-\\d{2}-\\d{2}T", "yyyy-MM-dd'T'HH:mm:ssxx"),
      tryFmt(cleaned, "^\\d{4}-\\d{2}-\\d{2}T", "yyyy-MM-dd'T'HH:mm:ssXXX"),
      tryFmt(cleaned, "^\\d{4}-\\d{2}-\\d{2}T", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
      tryFmt(cleaned, "^\\d{4}-\\d{2}-\\d{2} ", "yyyy-MM-dd HH:mm:ss"),
      tryFmt(cleaned, "^\\d{4}-\\d{2}-\\d{2}$", "yyyy-MM-dd"),
      tryFmt(cleaned, "^\\d{1,2}/", "d/M/yyyy HH:mm"),
      tryFmt(cleaned, "^\\d{1,2}-", "d-M-yyyy HH:mm"),
      tryFmt(cleaned, "^\\p{L}", "MMMM d, yyyy 'at' h:mm a"),
      tryFmt(cleaned, "^\\d{1,2} \\p{L}", "d MMMM yyyy"))
    when(parsed.isNull, lit(null).cast("string"))
      .otherwise(date_format(parsed, "yyyy-MM-dd'T'HH:mm:ss'Z'"))
  }

  /** F18 — $type introspection (reference: event_stats_report.py:30-34,
    * a debug report over schemaless documents). On a typed DataFrame
    * the schema is static, so the dynamic per-row form only matters for
    * raw staging JSON: classify the JSON type of a path inside a JSON
    * string column. get_json_object cannot distinguish JSON null from
    * an absent path — both report "missing", which is also how the
    * reference report buckets them.
    */
  def jsonTypeOf(json: Column, path: String): Column =
    jsonValueType(get_json_object(json, path))

  /** Classify an extracted JSON value string (the get_json_object /
    * json_tuple output form: quotes stripped from strings, raw JSON for
    * objects/arrays, SQL NULL for absent paths). Split out so a report
    * over several paths can extract them all with ONE json_tuple parse
    * and classify each — five get_json_object calls parse the document
    * five times; json_tuple parses once.
    *
    * The extractors strip quotes, so a JSON string that LOOKS numeric
    * ("5") classifies as a number — acceptable for the debug report
    * this mirrors; a full fidelity classifier would need a variant
    * type or a JSON parser expression.
    */
  def jsonValueType(v: Column): Column =
    when(v.isNull, "missing")
      .when(v.startsWith("{"), "object")
      .when(v.startsWith("["), "array")
      .when(v === "true" || v === "false", "bool")
      .when(v.rlike("^-?\\d+$"), "long")
      // decimal-point doubles AND exponent-only forms (1e5 is a valid
      // JSON number with no '.')
      .when(v.rlike("^-?(\\d*\\.\\d+|\\d+)([eE][+-]?\\d+)?$"), "double")
      .otherwise("string")

  /** F18 (typed side) — the static schema report: column name → Spark
    * SQL type string, the answer the Mongo $type debug report seeks
    * when the data already has a schema.
    */
  def schemaTypes(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  /** F19 — snippet truncation with ellipsis. */
  def snippet(c: Column, n: Int): Column =
    when(length(c) <= n, c).otherwise(concat(substring(c, 1, n), lit("...")))

  /** F14 — derived ticket booleans.
    * reference: my_scrapers/mono_ticketmaster.py:370-383
    */
  def hasTicketInfo(price: Column, text: Column, url: Column, tiers: Column): Column =
    (price.isNotNull && price > 0.0) ||
      (text.isNotNull && trim(text) =!= "") ||
      (url.isNotNull && url =!= "") ||
      (tiers.isNotNull && size(tiers) > 0)

  def isSoldOut(status: Column): Column = {
    val s = lower(coalesce(status, lit("")))
    s.contains("sold out") || s.contains("unavailable") ||
      s.contains("off-sale") || s.contains("offsale")
  }

  /** F16 — cheapest non-sold-out tier + availability status label.
    * reference: database/query_examples.py:38-52
    */
  def cheapestAvailableTier(tiers: Column): Column =
    array_min(transform(
      filter(tiers, t => !coalesce(t.getField("is_sold_out"), lit(false))),
      t => t.getField("tier_price")))

  /** F16 — the reference's ticket-status when-chain over a full
    * ticketing struct: Free → Available → Sold Out / Check URL →
    * Check URL → Unknown. reference: database/query_examples.py:38-52
    */
  def availabilityStatus(ticketing: Column): Column = {
    val tiers = ticketing.getField("tiers")
    val hasTiers = tiers.isNotNull && size(tiers) > 0
    val available = filter(tiers,
      t => !coalesce(t.getField("is_sold_out"), lit(false)))
    val url = ticketing.getField("tickets_url")
    when(ticketing.getField("is_free") === true, "Free")
      .when(hasTiers && size(available) > 0, "Available")
      .when(hasTiers, "Sold Out / Check URL")
      .when(url.isNotNull && url =!= "", "Check URL")
      .otherwise("Unknown")
  }
}
