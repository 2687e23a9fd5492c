package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ScalarFunctions._

/** The schema-adapter operator (SURVEY §2.11): raw scraped records →
  * unified V2 event documents, as one wide `select` — the engine's
  * central `unify(raw, platform)` transform.
  *
  * Mirrors the enhanced adapter pipeline
  * (reference: schema_adapter_enhanced.py:429-471): platform
  * validate/clean → base structure with defaults
  * (schema_adapter_enhanced.py:473-568) → normalization (venue/genre
  * lookup maps, url https-prefix, ibiza date parse with 23:00 default)
  * → quality scoring. Everything is Column algebra; normalization
  * lookups are literal maps (equivalent to broadcast joins against
  * tiny dimension tables — J1/J2/J3 in SURVEY §2.3).
  *
  * Expected raw columns (aliases coalesced per the field mapping at
  * schema_adapter_enhanced.py:181-189): title|event_name|name,
  * time|datetime|date|start_time, venue|location|place,
  * lineup (array<struct{name,role?,room?}>), url|link|event_url,
  * genres (array<string>), price_text|price. Missing columns are
  * treated as null.
  */
object Unify {

  /** J1 — venue-name normalization lookup (lowercased key, passthrough
    * default). reference: schema_adapter_enhanced.py:272-288
    */
  val venueLookup: Map[String, String] = Map(
    "hi ibiza" -> "Hï Ibiza", "hi" -> "Hï Ibiza", "ushuaia" -> "Ushuaïa",
    "pacha" -> "Pacha", "amnesia" -> "Amnesia", "dc10" -> "DC10",
    "dc-10" -> "DC10", "privilege" -> "Privilege", "eden" -> "Eden",
    "es paradis" -> "Es Paradis")

  /** J2 — genre normalization lookup.
    * reference: schema_adapter_enhanced.py:343-361
    */
  val genreLookup: Map[String, String] = Map(
    "techno" -> "Techno", "tech-house" -> "Tech House",
    "tech house" -> "Tech House", "house" -> "House",
    "deep house" -> "Deep House", "deep-house" -> "Deep House",
    "progressive" -> "Progressive House",
    "progressive house" -> "Progressive House", "trance" -> "Trance",
    "melodic techno" -> "Melodic Techno",
    "melodic-techno" -> "Melodic Techno", "minimal" -> "Minimal",
    "drum & bass" -> "Drum & Bass", "dnb" -> "Drum & Bass",
    "d&b" -> "Drum & Bass")

  /** J3 — timezone-from-location lookup (substring match, default UTC).
    * reference: schema_adapter_enhanced.py:363-373
    */
  val timezoneLookup: Seq[(String, String)] = Seq(
    "ibiza" -> "Europe/Madrid", "london" -> "Europe/London",
    "berlin" -> "Europe/Berlin", "new york" -> "America/New_York",
    "los angeles" -> "America/Los_Angeles", "tokyo" -> "Asia/Tokyo",
    "sydney" -> "Australia/Sydney")

  def normalizeVenueName(venue: Column): Column =
    coalesce(
      try_element_at(typedLit(venueLookup), lower(trim(venue))),
      venue)

  /** Map hit → canonical name; miss → Python str.title()-style
    * word-capitalization (initcap). reference: schema_adapter_enhanced.py:375-381
    */
  def normalizeGenre(genre: Column): Column =
    coalesce(
      try_element_at(typedLit(genreLookup), lower(trim(genre))),
      initcap(genre))

  def timezoneFromLocation(location: Column): Column =
    timezoneLookup.foldRight(lit("UTC"): Column) { case ((city, tz), acc) =>
      when(lower(coalesce(location, lit(""))).contains(city), tz).otherwise(acc)
    }

  /** Platform field mapping — §2.11 step 1, the validator registry the
    * reference dispatches on source platform
    * (schema_adapter_enhanced.py:398-412). Aliases may be dotted nested
    * paths (the V1 TypedDict shapes nest venue/date/price).
    * `ibizaDates`: the ibiza validators use the day-name-strip 23:00
    * parser; other platforms go through the UniversalValidator format
    * ladder.
    */
  final case class PlatformMapping(
      validatorName: String,
      titleAliases: Seq[String],
      timeAliases: Seq[String],
      venueAliases: Seq[String],
      urlAliases: Seq[String],
      priceAliases: Seq[String],
      lineupAliases: Seq[String],
      genresAliases: Seq[String],
      descAliases: Seq[String],
      ibizaDates: Boolean)

  private val ibizaMapping = PlatformMapping("IbizaSpotlightValidator",
    titleAliases = Seq("title", "event_name", "name"),
    timeAliases = Seq("time", "datetime", "date", "start_time"),
    venueAliases = Seq("venue", "location", "place"),
    urlAliases = Seq("url", "link", "event_url"),
    priceAliases = Seq("price_text", "price", "ticket_price", "cost"),
    lineupAliases = Seq("lineup"),
    genresAliases = Seq("genres"),
    // the content builder reads the short_description key verbatim
    // (schema_adapter_enhanced.py:509); facebook maps a raw
    // `description` field (:322)
    descAliases = Seq("short_description", "description"),
    ibizaDates = true)

  /** reference: schema_adapter_enhanced.py:398-412 (registry +
    * IbizaSpotlightValidator default), :314-324 (facebook field
    * mapping), my_scrapers/mono_ticketmaster.py:59-67 (V1 TypedDict
    * shape).
    */
  val platformRegistry: Map[String, PlatformMapping] = Map(
    "ibiza-spotlight" -> ibizaMapping,
    "ibiza-spotlight-calendar" -> ibizaMapping,
    "facebook" -> PlatformMapping("FacebookEventValidator",
      titleAliases = Seq("name"),
      timeAliases = Seq("start_time"),
      venueAliases = Seq("place.name", "location"),
      urlAliases = Seq("id"),
      priceAliases = Seq.empty,
      lineupAliases = Seq.empty,
      genresAliases = Seq.empty,
      descAliases = Seq("description"),
      ibizaDates = false),
    "ticketmaster" -> PlatformMapping("TicketmasterValidator",
      titleAliases = Seq("title"),
      timeAliases = Seq("dateTime.displayText"),
      venueAliases = Seq("location.venue"),
      urlAliases = Seq("ticketsUrl", "url"),
      priceAliases = Seq("ticketInfo.displayText"),
      lineupAliases = Seq("lineUp"),
      genresAliases = Seq("genres"),
      descAliases = Seq("description"),
      ibizaDates = false))

  def mappingFor(platform: String): PlatformMapping =
    platformRegistry.getOrElse(platform.toLowerCase, ibizaMapping)

  /** Resolve the first alias that exists in the schema; dotted names
    * descend struct fields. Missing everywhere → typed null.
    */
  private def colOr(df: DataFrame, names: Seq[String]): Column = {
    import org.apache.spark.sql.types.StructType
    def resolves(name: String): Boolean = {
      val parts = name.split('.')
      if (!df.columns.contains(parts.head)) false
      else parts.tail.foldLeft(Option(df.schema(parts.head).dataType)) {
        case (Some(st: StructType), p) if st.fieldNames.contains(p) =>
          Some(st(p).dataType)
        case _ => None
      }.isDefined
    }
    val present = names.filter(resolves)
    if (present.isEmpty) lit(null).cast("string")
    else coalesce(present.map(df(_)): _*)
  }

  /** raw scraped records → unified V2 event documents.
    *
    * @param keep raw columns to carry through unchanged (appended after
    *             the unified schema) — correlation/ordering keys for
    *             pipelines that need to join results back to inputs.
    */
  def unify(raw: DataFrame, sourcePlatform: String,
      now: Column = current_timestamp(),
      keep: Seq[String] = Nil): DataFrame = {
    val nowIso = date_format(now, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val mapping = mappingFor(sourcePlatform)

    val titleRaw = colOr(raw, mapping.titleAliases)
    val timeRaw = colOr(raw, mapping.timeAliases)
    val venueRaw = colOr(raw, mapping.venueAliases)
    val urlRaw = colOr(raw, mapping.urlAliases)
    val priceRaw = colOr(raw, mapping.priceAliases)
    val descRaw = colOr(raw, mapping.descAliases)
    val genresCol = mapping.genresAliases.find(raw.columns.contains)
    val genresRaw = genresCol.map(raw(_))
      .getOrElse(lit(null).cast("array<string>"))
    // Lineup element structs vary by platform (role/room may be
    // absent), and an always-empty lineup infers as array<string> from
    // JSON — treat any non-struct element type as "no lineup".
    val lineupCol = mapping.lineupAliases.find(raw.columns.contains)
    val lineupStructFields: Option[Set[String]] = lineupCol
      .map(c => raw.schema(c).dataType).collect {
        case org.apache.spark.sql.types.ArrayType(
          st: org.apache.spark.sql.types.StructType, _) => st.fieldNames.toSet
      }
    val lineupRaw =
      if (lineupStructFields.isDefined) raw(lineupCol.get)
      else lit(null).cast("array<struct<name:string,role:string>>")
    val lineupFields: Set[String] =
      lineupStructFields.getOrElse(Set("name", "role"))
    def lf(a: Column, f: String): Column =
      if (lineupFields.contains(f)) a.getField(f) else lit(null).cast("string")

    // Each derived field is computed ONCE per row, in staged
    // projections the output reads as columns. Inlined at every use,
    // the date ladder, the text normalizers and the ids re-evaluate per
    // reference (hundreds of regex nodes per row). CollapseProject
    // keeps a non-cheap alias its consumer reads more than once, so the
    // stages survive optimization.
    def staged(name: String): Column = col(s"__unify_$name")
    val title = staged("title")
    val venueName = staged("venue")
    val startDate = staged("start")
    val url = staged("url")
    val price = staged("price")
    val genres = staged("genres")
    // Lineup → top-level acts + stage references; first artist is the
    // headliner, billing_order is position (reference:
    // schema_adapter_enhanced.py:646-683).
    val validLineup = staged("lineup")
    // _process_lineup (schema_adapter_enhanced.py:290-310): INFO per
    // truthy-named artist whose stripped name is shorter than 2 chars.
    val shortNamed = staged("short_named")
    // The reference records the raw date string only when it parses
    // (schema_adapter_enhanced.py:206-213) — it feeds the event id and
    // recurring.pattern_description, unmodified.
    val rawDateString = when(startDate.isNotNull, timeRaw)
      .otherwise(lit(null).cast("string"))

    val acts = coalesce(transform(validLineup, a => struct(
      entityId("artist", trim(lf(a, "name"))).as("act_id"),
      trim(lf(a, "name")).as("act_name"),
      lower(coalesce(lf(a, "role"), lit("dj"))).as("act_type"),
      array().cast("array<string>").as("genres"),
      array().cast("array<string>").as("styles"),
      map().cast("map<string,string>").as("social_media"),
      map().cast("map<string,string>").as("popularity_metrics"))),
      array().cast("array<struct<act_id:string,act_name:string,act_type:string,genres:array<string>,styles:array<string>,social_media:map<string,string>,popularity_metrics:map<string,string>>>"))
    val stageActs = coalesce(transform(validLineup, (a, i) => struct(
      entityId("artist", trim(lf(a, "name"))).as("act_id"),
      struct(lit(null).cast("string").as("start"),
        lit(null).cast("string").as("end"),
        lit(null).cast("int").as("duration_minutes")).as("set_time"),
      (i + 1).cast("int").as("billing_order"),
      (i === 0).as("is_headliner"))),
      array().cast("array<struct<act_id:string,set_time:struct<start:string,end:string,duration_minutes:int>,billing_order:int,is_headliner:boolean>>"))

    // Validation metadata — the reference's ValidationResult bookkeeping
    // (schema_adapter_enhanced.py:36-69): each issue both lands in the
    // level's list and decays confidence_score ×0.7 (error), ×0.9
    // (warning), ×0.95 (info). Conditions mirror
    // IbizaSpotlightValidator.validate_and_clean
    // (schema_adapter_enhanced.py:193-240) in its issue order — the
    // confidence product folds left in that same order, so the float
    // result matches the reference's sequential `*=` bit-for-bit.
    val titleStripped = trim(titleRaw)
    val titleMissing = titleRaw.isNull || titleStripped === ""
    val titleShort = !titleMissing && length(titleStripped) < 3
    val dateInvalid = timeRaw.isNotNull && timeRaw =!= "" && startDate.isNull
    val venueMissing = venueRaw.isNull || venueRaw === ""
    val urlInvalid = urlRaw.isNotNull && urlRaw =!= "" && url.isNull
    def issue(field: String, message: Column, level: String): Column =
      struct(lit(field).as("field"), message.as("message"),
        lit(level).as("level"))
    def issues(conds: (Column, Column, String, String)*): Column =
      filter(array(conds.map { case (c, msg, f, lvl) =>
        when(c, issue(f, msg, lvl)) }: _*), x => x.isNotNull)
    val vErrors = issues(
      (titleMissing, lit("Missing event title"), "title", "error"),
      (dateInvalid, concat(lit("Invalid date format: "), timeRaw),
        "datetime", "error"))
    val vWarnings = issues(
      (titleShort, lit("Title too short"), "title", "warning"),
      (venueMissing, lit("Missing venue information"), "venue", "warning"),
      (urlInvalid, lit("Invalid URL format"), "url", "warning"))
    val vInfo = coalesce(
      transform(shortNamed, a => issue("artists",
        concat(lit("Very short artist name: "), trim(lf(a, "name"))), "info")),
      array().cast("array<struct<field:string,message:string,level:string>>"))
    val confBase = staged("conf_base")
    val confidence = coalesce(
      aggregate(shortNamed, confBase, (acc, _) => acc * lit(0.95)),
      confBase)
    val eventId = staged("id")

    val stages = Seq(
      Seq(
        "title" -> coalesce(normalizeText(titleRaw), lit("Untitled Event")),
        "venue" -> coalesce(normalizeVenueName(normalizeText(venueRaw)),
          lit("Unknown Venue")),
        "time" -> (if (mapping.ibizaDates) ibizaDateText(timeRaw)
          else timeRaw),
        "url" -> normalizeUrl(urlRaw),
        "price" -> extractPrice(priceRaw),
        "genres" -> transform(
          coalesce(genresRaw, array().cast("array<string>")),
          g => normalizeGenre(g)),
        "lineup" -> filter(lineupRaw,
          a => lf(a, "name").isNotNull && trim(lf(a, "name")) =!= ""),
        "short_named" -> filter(lineupRaw, a =>
          lf(a, "name").isNotNull && lf(a, "name") =!= "" &&
            length(trim(lf(a, "name"))) < 2)),
      Seq("start" -> (if (mapping.ibizaDates)
        parseIbizaCleaned(staged("time"))
        else parseDateTimeMulti(staged("time")))),
      Seq(
        "id" -> entityId(sourcePlatform,
          concat(title, lit("_"), coalesce(rawDateString, lit("")))),
        "conf_base" -> lit(1.0) *
          when(titleMissing, 0.7).when(titleShort, 0.9).otherwise(1.0) *
          when(dateInvalid, 0.7).otherwise(1.0) *
          when(venueMissing, 0.9).otherwise(1.0) *
          when(urlInvalid, 0.9).otherwise(1.0)))
    val parsed = stages.foldLeft(raw) { (df, stage) =>
      df.select(col("*") +: stage.map { case (n, c) => c.as(s"__unify_$n") }: _*)
    }

    parsed.select(Seq(
      eventId.as("event_id"),
      eventId.as("canonical_id"),
      title.as("title"),
      eventType(title, venueName).as("type"),
      lit("scheduled").as("status"),
      struct(
        // Unparseable dates fall back to scrape-time BY REFERENCE
        // SEMANTICS (schema_adapter_enhanced.py:587-592: `start_date =
        // data.get('start_date', datetime.now(...).isoformat())`) —
        // the failure is still surfaced via the datetime ERROR issue +
        // ×0.7 confidence decay above, exactly like the reference.
        coalesce(startDate, nowIso).as("start_date"),
        lit(null).cast("string").as("end_date"),
        lit("Europe/Madrid").as("timezone"),
        lit(null).cast("string").as("doors_open"),
        lit(null).cast("string").as("last_entry"),
        lit(false).as("is_all_day"),
        lit(null).cast("double").as("duration_hours"),
        struct(lit(false).as("is_recurring"),
          lit(null).cast("string").as("frequency"),
          rawDateString.as("pattern_description"),
          lit(null).cast("string").as("end_recurrence")).as("recurring")
      ).as("datetime"),
      struct(
        entityId("venue", venueName).as("venue_id"),
        venueName.as("name"),
        struct(lit(null).cast("string").as("street"),
          lit("Ibiza").as("city"),
          lit(null).cast("string").as("state"),
          lit("Spain").as("country"),
          lit(null).cast("string").as("postal_code"),
          lit(null).cast("string").as("full_address")).as("address"),
        struct(lit("Point").as("type"),
          array().cast("array<double>").as("coordinates")).as("coordinates"),
        lit("club").as("venue_type"),
        lit(null).cast("int").as("total_capacity"),
        lit(null).cast("boolean").as("has_disabled_access"),
        lit(null).cast("string").as("website"),
        map().cast("map<string,string>").as("social_links"),
        lit(1).as("stage_count"),
        array(struct(
          lit("main_stage").as("stage_id"),
          lit("Main Stage").as("stage_name"),
          lit(null).cast("int").as("capacity"),
          lit("main_stage").as("stage_type"),
          struct(lit(null).cast("string").as("host_name"),
            lit(null).cast("string").as("host_id")).as("host"),
          array().cast("array<string>").as("stage_genres"),
          stageActs.as("acts"))).as("stages")
      ).as("venue"),
      acts.as("acts"),
      // the builder passes the description keys through VERBATIM
      // (schema_adapter_enhanced.py:508-512) — no normalization
      struct(descRaw.as("short_description"),
        lit(null).cast("string").as("full_description"),
        array().cast("array<string>").as("keywords"),
        array().cast("array<string>").as("hashtags")).as("content"),
      struct(
        try_element_at(genres, lit(1)).as("primary_genre"),
        genres.as("sub_genres"),
        array().cast("array<string>").as("styles"),
        array().cast("array<string>").as("mood_tags"),
        lit(null).cast("int").as("energy_level"),
        lit(null).cast("double").as("genre_confidence")).as("music"),
      struct(
        lit(null).cast("string").as("tickets_url"),
        coalesce(price.getField("price") === 0.0, lit(false)).as("is_free"),
        struct(lit(18).as("minimum_age"),
          lit("18+").as("restriction_type")).as("age_restriction"),
        array().cast("array<string>").as("promos"),
        when(price.getField("price").isNotNull && price.getField("price") > 0.0,
          array(struct(
            lit(null).cast("string").as("tier_id"),
            lit("General").as("tier_name"),
            price.getField("price").as("tier_price"),
            price.getField("currency").as("currency"),
            lit(null).cast("string").as("sale_start"),
            lit(null).cast("string").as("sale_end"),
            lit(false).as("is_sold_out"),
            lit(false).as("is_nearly_sold_out"))))
          .otherwise(array().cast(
            "array<struct<tier_id:string,tier_name:string,tier_price:double,currency:string,sale_start:string,sale_end:string,is_sold_out:boolean,is_nearly_sold_out:boolean>>"))
          .as("tiers"),
        array().cast("array<string>").as("external_platforms")).as("ticketing"),
      struct(
        lit(sourcePlatform).as("source_platform"),
        coalesce(url, urlRaw).as("source_url"),
        lit(null).cast("string").as("source_event_id"),
        nowIso.as("first_scraped"),
        nowIso.as("last_scraped"),
        lit("2.0").as("scraper_version"),
        to_json(struct(raw.columns.map(raw(_)): _*)).as("raw_data")).as("scraping_metadata"),
      struct(lit(true).as("is_canonical"),
        array().cast("array<string>").as("merged_from_ids"),
        array().cast("array<string>").as("merge_log")).as("deduplication"),
      struct(array().cast("array<string>").as("related_events"),
        array().cast("array<string>").as("audience_profile_tags"),
        lit(0.0).as("influence_score")).as("knowledge_graph"),
      struct(lit(0).as("views"), lit(0).as("saves"),
        lit(0).as("clicks_to_tickets")).as("analytics"),
      nowIso.as("created_at"),
      nowIso.as("updated_at"),
      struct(lit(false).as("is_featured"), lit(false).as("is_hidden"),
        lit(null).cast("boolean").as("needs_refresh"),
        lit(null).cast("string").as("refresh_requested_at")).as("system_flags"),
      // reference: schema_adapter_enhanced.py:455-464 — validation
      // issue lists + multiplicative confidence decay.
      struct(
        nowIso.as("validation_timestamp"),
        vErrors.as("validation_errors"),
        vWarnings.as("validation_warnings"),
        vInfo.as("validation_info"),
        lit(mapping.validatorName).as("platform_validator"),
        confidence.as("confidence_score")).as("validation_metadata")
    ) ++ keep.map(raw(_)): _*
    ).transform(QualityScorer.withQuality(_, now))
  }
}
