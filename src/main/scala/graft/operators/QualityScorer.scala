package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The quality-scoring operator (SURVEY §2.10) as pure Column algebra —
  * no UDFs. The scalar arithmetic stays inside whole-stage codegen;
  * the array-valued parts (flag lists, per-act folds) use higher-order
  * functions, which Spark evaluates as expression-interpreted islands —
  * still a single scan-speed pass with no shuffle.
  *
  * Semantics mirror the reference scorer exactly
  * (reference: database/quality_scorer.py:29-404): per-field scores in
  * [0,1] with validation flags, weighted overall (weights title .25,
  * venue .20, datetime .25, acts .15, ticketing .15 —
  * quality_scorer.py:21-27), rounded half-even to 3 dp (Python round).
  * Floating-point additions keep the reference's accumulation order so
  * golden scores match bit-for-bit (SURVEY §7.3 risk 4).
  *
  * Each sub-scorer returns struct{score: double, flags: array<string>}.
  */
object QualityScorer {

  private def flagsOf(conds: (Column, String)*): Column =
    filter(
      array(conds.map { case (c, f) => when(c, lit(f)) }: _*),
      x => x.isNotNull)

  private def sub(score: Column, flags: Column): Column =
    struct(least(score, lit(1.0)).as("score"), flags.as("flags"))

  private def nonEmpty(c: Column): Column = c.isNotNull && c =!= ""

  /** Python falsiness of `{}`: an all-null struct (what `{}` parses to
    * in Spark) counts as missing, same as a null struct.
    */
  private def missingStruct(s: Column, fields: String*): Column =
    s.isNull || fields.map(f => s.getField(f).isNull).reduce(_ && _)

  /** reference: database/quality_scorer.py:95-139 */
  def scoreTitle(title: Column): Column = {
    val len = length(title)
    val words = when(trim(title) === "", 0)
      .otherwise(size(split(trim(title), "\\s+")))
    val specialRatio =
      length(regexp_replace(title, "[a-zA-Z0-9\\s\\-&]", "")).cast("double") /
        len.cast("double")
    val first = substring(title, 1, 1)
    val isCapitalized = first =!= lower(first)
    val isAllUpper = title === upper(title) && lower(title) =!= upper(title)
    val score =
      when(len >= 5, 0.3).otherwise(0.0) +
        when(title.rlike("\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}|\\d{4}"), 0.2).otherwise(0.0) +
        when(words >= 2, 0.2).otherwise(0.0) +
        when(specialRatio < 0.2, 0.2).otherwise(0.0) +
        when(isCapitalized && !isAllUpper, 0.1).otherwise(0.0)
    val flags = flagsOf(
      (len < 5, "title_too_short"),
      ((specialRatio >= 0.2), "excessive_special_chars"))
    when(!nonEmpty(title), struct(lit(0.0).as("score"),
      array(lit("missing_title")).as("flags")))
      .otherwise(sub(score, flags))
  }

  /** reference: database/quality_scorer.py:140-191 */
  def scoreVenue(venue: Column): Column = {
    val name = venue.getField("name")
    val knownVenues = Seq("Hï Ibiza", "Ushuaïa", "Pacha", "Amnesia", "DC10", "Privilege")
    val isKnown = knownVenues.map(v => name.contains(v)).reduce(_ || _)
    val addr = venue.getField("address")
    val fullAddr = addr.getField("full_address")
    val street = addr.getField("street")
    val city = addr.getField("city")
    val coords = venue.getField("coordinates")
    val cType = coords.getField("type")
    val cArr = coords.getField("coordinates")
    val hasPoint = cType === "Point" && cArr.isNotNull && size(cArr) > 0
    // try_element_at: common-subexpression elimination can hoist
    // these out of the size-guarded branch, and ANSI element_at
    // throws on out-of-bounds.
    val lon = try_element_at(cArr, lit(1))
    val lat = try_element_at(cArr, lit(2))
    val inIbiza = lon >= 1.2 && lon <= 1.6 && lat >= 38.8 && lat <= 39.1

    // One addition term per reference `score +=`, in reference order —
    // combined branches like `0.3 + 0.1` would be constant-folded by
    // scalac into a differently-rounded literal (0.2 + 0.1 ≠ 0.30000…4
    // as one constant), breaking bit-for-bit golden parity.
    val score =
      when(nonEmpty(name), 0.3).otherwise(0.0) +
        when(nonEmpty(name) && isKnown, 0.1).otherwise(0.0) +
        when(nonEmpty(fullAddr), 0.2)
          .when(nonEmpty(street) && nonEmpty(city), 0.15).otherwise(0.0) +
        when(nonEmpty(city), 0.2).otherwise(0.0) +
        when(nonEmpty(city) && lower(city).contains("ibiza"), 0.1).otherwise(0.0) +
        when(hasPoint && size(cArr) === 2 && inIbiza, 0.2).otherwise(0.0)

    val flags = flagsOf(
      (!nonEmpty(name), "missing_venue_name"),
      ((!nonEmpty(fullAddr) && !(nonEmpty(street) && nonEmpty(city))), "missing_address_details"),
      (!nonEmpty(city), "missing_city"),
      ((hasPoint && size(cArr) === 2 && !inIbiza), "coordinates_outside_ibiza"),
      ((hasPoint && size(cArr) =!= 2), "invalid_coordinates_format"),
      (!hasPoint, "missing_coordinates"))

    when(missingStruct(venue, "venue_id", "name", "address", "coordinates",
        "venue_type", "website", "stages"),
      struct(lit(0.0).as("score"),
        array(lit("missing_venue_data")).as("flags")))
      .otherwise(sub(score, flags))
  }

  /** reference: database/quality_scorer.py:193-266. `now` injectable for
    * deterministic tests; resolved once per plan, not per row (mirrors
    * the reference computing utcnow() once per call).
    */
  def scoreDatetime(dt: Column, now: Column): Column = {
    val startStr = dt.getField("start_date")
    val endStr = dt.getField("end_date")
    val startTs = try_to_timestamp(startStr)
    val endTs = try_to_timestamp(endStr)
    val tooPast = startTs < now - expr("INTERVAL 30 DAYS")
    val tooFuture = startTs > now + expr("INTERVAL 730 DAYS")
    val saneBand = startTs.isNotNull && !tooPast && !tooFuture
    val tz = dt.getField("timezone")
    val rec = dt.getField("recurring")
    val isRec = rec.getField("is_recurring") === true
    val pattern = rec.getField("pattern_description")

    // One addition per reference `score +=`, reference order (see
    // scoreVenue note on scalac constant folding vs golden parity).
    val score =
      when(nonEmpty(startStr), 0.4).otherwise(0.0) +
        when(nonEmpty(startStr) && saneBand, 0.1).otherwise(0.0) +
        when(nonEmpty(endStr), 0.1).otherwise(0.0) +
        when(nonEmpty(endStr) && nonEmpty(startStr) && endTs.isNotNull &&
          startTs.isNotNull && endTs >= startTs, 0.05).otherwise(0.0) +
        when(nonEmpty(tz), 0.2).otherwise(0.0) +
        when(nonEmpty(tz) && tz.isin("Europe/Madrid", "CET", "CEST"), 0.05).otherwise(0.0) +
        when(isRec, 0.05).otherwise(0.0) +
        when(isRec && nonEmpty(pattern), 0.1).otherwise(0.0)

    val flags = flagsOf(
      ((nonEmpty(startStr) && startTs.isNotNull && tooPast), "date_too_far_past"),
      ((nonEmpty(startStr) && startTs.isNotNull && tooFuture), "date_too_far_future"),
      ((nonEmpty(startStr) && startTs.isNull), "invalid_start_date_format"),
      (!nonEmpty(startStr), "missing_start_date"),
      // Python parses end AND start inside one try: either failing
      // yields invalid_end_date_format (quality_scorer.py:231-246).
      ((nonEmpty(endStr) && nonEmpty(startStr) && (endTs.isNull || startTs.isNull)), "invalid_end_date_format"),
      (nonEmpty(endStr) && nonEmpty(startStr) && endTs.isNotNull &&
        (startTs.isNotNull && endTs < startTs), "end_date_before_start_date"),
      (!nonEmpty(tz), "missing_timezone"),
      ((isRec && !nonEmpty(pattern)), "missing_recurring_pattern_description"))

    when(missingStruct(dt, "start_date", "end_date", "timezone",
        "doors_open", "last_entry", "is_all_day", "duration_hours", "recurring"),
      struct(lit(0.0).as("score"),
        array(lit("missing_datetime_data")).as("flags")))
      .otherwise(sub(score, flags))
  }

  /** reference: database/quality_scorer.py:268-318. An act is "valid"
    * iff its name is present (name alone contributes 0.6 ≥ the 0.6
    * validity bar).
    */
  def scoreActs(acts: Column): Column = {
    val total = size(acts)
    val valid = size(filter(acts, a => nonEmpty(a.getField("act_name"))))
    val score =
      lit(0.4) +
        (lit(0.4) * (valid.cast("double") / total.cast("double"))) +
        when(total >= 3, 0.2).when(total >= 2, 0.1).otherwise(0.0)
    // One flag per nameless act, duplicates preserved (reference
    // appends inside the per-act loop).
    val flags = transform(
      filter(acts, a => !nonEmpty(a.getField("act_name"))),
      _ => lit("missing_act_name_in_list"))
    when(acts.isNull || size(acts) === 0, struct(lit(0.0).as("score"),
      array(lit("missing_acts_data")).as("flags")))
      .otherwise(sub(score, flags))
  }

  /** reference: database/quality_scorer.py:320-388 */
  def scoreTicketing(t: Column): Column = {
    val isFree = t.getField("is_free")
    val url = t.getField("tickets_url")
    val urlOk = url.startsWith("http://") || url.startsWith("https://")
    val tiers = t.getField("tiers")
    val hasTiers = tiers.isNotNull && size(tiers) > 0
    val validTier = (tr: Column) =>
      nonEmpty(tr.getField("tier_name")) &&
        tr.getField("tier_price").isNotNull &&
        nonEmpty(tr.getField("currency"))
    val validTiers = filter(tiers, validTier)
    val nValid = size(validTiers)
    val nTotal = size(tiers)
    val cheapest = array_min(transform(validTiers, tr => tr.getField("tier_price")))
    val firstCurrency = try_element_at(validTiers, lit(1)).getField("currency")
    val age = t.getField("age_restriction")
    val hasAge = age.getField("minimum_age").isNotNull ||
      nonEmpty(age.getField("restriction_type"))

    // One addition per reference `score +=`, reference order — a
    // grouped sub-sum like (prop + eur + price) would change FP
    // association versus the reference's flat accumulation (see
    // scoreVenue note).
    val score =
      when(isFree === true, 0.5).when(isFree === false, 0.1).otherwise(0.0) +
        when(nonEmpty(url), 0.2).otherwise(0.0) +
        when(nonEmpty(url) && urlOk, 0.05).otherwise(0.0) +
        when(hasTiers, 0.2).otherwise(0.0) +
        when(hasTiers && nValid > 0,
          lit(0.1) * (nValid.cast("double") / nTotal.cast("double")))
          .otherwise(0.0) +
        when(hasTiers && nValid > 0 && firstCurrency === "EUR", 0.05).otherwise(0.0) +
        when(hasTiers && nValid > 0 && cheapest >= 5.0 && cheapest <= 500.0, 0.05)
          .otherwise(0.0) +
        when(hasAge, 0.05).otherwise(0.0)

    val flags = flagsOf(
      (isFree.isNull, "missing_is_free_status"),
      ((nonEmpty(url) && !urlOk), "invalid_tickets_url"),
      ((!nonEmpty(url) && isFree === false), "missing_tickets_url_for_paid_event"),
      ((hasTiers && nValid > 0 && cheapest > 500.0), "very_high_ticket_price"),
      ((hasTiers && nValid > 0 && cheapest < 5.0 && cheapest > 0.0), "very_low_ticket_price"),
      ((!hasTiers && isFree === false), "missing_tiers_for_paid_event_or_invalid_format"))

    when(missingStruct(t, "tickets_url", "is_free", "age_restriction",
        "promos", "tiers", "external_platforms"),
      struct(lit(0.0).as("score"),
        array(lit("missing_ticketing_data")).as("flags")))
      .otherwise(sub(score, flags))
  }

  /** Weighted overall, half-even rounded to 3 dp (Python round parity —
    * hence bround, not round). reference: quality_scorer.py:390-404.
    */
  def overallScore(title: Column, venue: Column, dt: Column,
      acts: Column, ticketing: Column): Column = {
    val totalScore = title * 0.25 + venue * 0.20 + dt * 0.25 +
      acts * 0.15 + ticketing * 0.15
    val totalWeight = lit(0.25 + 0.20 + 0.25 + 0.15 + 0.15)
    graft.functions.PythonRound.py_round(totalScore / totalWeight, 3)
  }

  /** Full data_quality struct (EventSchema.dataQuality shape). */
  def dataQuality(title: Column, venue: Column, dt: Column, acts: Column,
      ticketing: Column, now: Column): Column =
    assemble(fieldScores(title, venue, dt, acts, ticketing, now).map(_._2))

  private val scoredFields =
    Seq("title", "venue", "datetime", "acts", "ticketing")

  /** Each field's (score, flags) struct, in [[scoredFields]] order. */
  private def fieldScores(title: Column, venue: Column, dt: Column,
      acts: Column, ticketing: Column, now: Column): Seq[(String, Column)] =
    scoredFields.zip(Seq(scoreTitle(title), scoreVenue(venue),
      scoreDatetime(dt, now), scoreActs(acts), scoreTicketing(ticketing)))

  /** The data_quality struct from the per-field (score, flags) structs,
    * in [[scoredFields]] order. */
  private def assemble(scores: Seq[Column]): Column = {
    val fields = scoredFields.zip(scores)
    val Seq(t, v, d, a, k) = scores.map(_.getField("score"))
    struct(
      overallScore(t, v, d, a, k).as("overall_score"),
      struct(fields.map { case (f, s) => s.getField("score").as(f) }: _*)
        .as("field_quality_scores"),
      concat(fields.map { case (f, s) => transform(s.getField("flags"),
        x => struct(lit(f).as("field"), x.as("issue"))) }: _*)
        .as("validation_flags"),
      struct(lit(false).as("is_verified"),
        lit(null).cast("string").as("verified_by"),
        lit(null).cast("string").as("verified_at")).as("manual_verification"))
  }

  /** Attach/recompute the data_quality column on a V2 events DataFrame.
    * Each field's score and flags are computed once per row, in a
    * staged projection: the struct reads every score twice, and inlined
    * it would evaluate each scorer twice. */
  def withQuality(df: DataFrame, now: Column = current_timestamp()): DataFrame = {
    def name(f: String, part: String) = s"__quality_${f}_$part"
    val parts = Seq("score", "flags")
    val staged = fieldScores(col("title"), col("venue"), col("datetime"),
      col("acts"), col("ticketing"), now).flatMap { case (f, s) =>
      parts.map(p => s.getField(p).as(name(f, p))) }
    df.select(col("*") +: staged: _*)
      .withColumn("data_quality", assemble(scoredFields.map(f =>
        struct(parts.map(p => col(name(f, p)).as(p)): _*))))
      .drop(scoredFields.flatMap(f => parts.map(name(f, _))): _*)
  }

  /** Quality summary bands + recommendation
    * (reference: quality_scorer.py:412-451).
    */
  def qualityLevel(overall: Column): Column =
    when(overall >= 0.9, "Excellent")
      .when(overall >= 0.8, "Good")
      .when(overall >= 0.7, "Fair")
      .when(overall >= 0.6, "Poor")
      .otherwise("Very Poor")

  /** Full human-readable summary: level, weak fields (<0.7), flag
    * count, recommendation string
    * (reference: quality_scorer.py:412-451).
    */
  def qualitySummary(dq: Column): Column = {
    val overall = dq.getField("overall_score")
    val fs = dq.getField("field_quality_scores")
    val fields = Seq("title", "venue", "datetime", "acts", "ticketing")
    val weak = filter(
      array(fields.map(f =>
        when(fs.getField(f) < 0.7, lit(f))): _*),
      x => x.isNotNull)
    val weakJoined = array_join(weak, ", ")
    val recommendation =
      when(overall >= 0.9, lit("Data quality is excellent. No immediate action needed."))
        .when(overall >= 0.8, concat(lit("Good data quality. Consider improving: "), weakJoined))
        .when(overall >= 0.7, concat(lit("Fair data quality. Priority improvements needed for: "), weakJoined))
        .otherwise(concat(lit("Poor data quality ("),
          format_number(overall, 2),
          lit("). Focus on: "), weakJoined,
          lit(". Consider re-scraping or manual review.")))
    struct(
      qualityLevel(overall).as("qualityLevel"),
      overall.as("overallScore"),
      weak.as("weakFields"),
      size(dq.getField("validation_flags")).as("totalFlags"),
      recommendation.as("recommendation"))
  }

  /** Alternative basic 100-point scorer
    * (reference: scrapers_v2/data_quality/scoring.py:43-100): start at
    * 100, subtract 30/30/20/20 for missing-or-invalid title / start
    * date / venue name / description; floor at 0; issues listed per
    * field. Column-name parameterized for the flatter Pydantic-variant
    * shape.
    */
  def basicQualityScore(title: Column, startDateUtc: Column,
      venueName: Column, description: Column): Column = {
    val issues = Seq(
      (!nonEmpty(trim(title)),
        "event_details.title", "Title is missing or empty."),
      (!nonEmpty(startDateUtc) || try_to_timestamp(startDateUtc).isNull,
        "event_dates.start_date_utc", "Start date UTC is missing or invalid format."),
      (!nonEmpty(trim(venueName)),
        "location.venue_name", "Venue name is missing or empty."),
      (!nonEmpty(trim(description)),
        "event_details.description_text", "Text description is missing or empty."))
    val weights = Seq(30.0, 30.0, 20.0, 20.0)
    val score = issues.zip(weights).foldLeft(lit(100.0)) {
      case (acc, ((cond, _, _), w)) => acc - when(cond, w).otherwise(0.0)
    }
    struct(
      greatest(score, lit(0.0)).as("overall_score"),
      filter(array(issues.map { case (cond, f, msg) =>
        when(cond, struct(lit(f).as("field"), lit(msg).as("issue")))
      }: _*), x => x.isNotNull).as("issues"))
  }
}
