package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Tables => T}

/** Deterministic nested-V2 events table derived from `documents`, for
  * oracle-checked correctness of the serving/analytics surface on the
  * REAL event schema (EventQueries, QualityScorer, Unify) — not flat
  * analogs.
  *
  * Every raw field is a pure function of doc_id (+ the document text),
  * so the DuckDB oracle can recompute the unified/scored columns from
  * documents.parquet alone:
  *  - title: 8 shapes (null / blank / 1-char / ALL-CAPS / digit-bearing
  *    / special-char-heavy / "Live …" / normal) — exercises every
  *    scoreTitle branch;
  *  - time: 5 parseable formats + 1 unparseable + 1 null, over a date
  *    offset spanning [-150, +849] days around the fixed now
  *    (2025-06-10) — exercises sane-band, too-past and too-future;
  *  - venue: 5 known venues, 2 unknown, 1 null;
  *  - lineup: 0–4 acts with cycling roles;
  *  - price: EUR / free / GBP / ISO-suffix / null / unparseable / USD
  *    cents, amounts 2..601 — exercises very-low/very-high tier flags;
  *  - post-unify enrichment: stage host names and tier sold-out flags
  *    via nested withField updates.
  *
  * `oracleCte` is the DuckDB mirror: it recomputes title/venue/dates,
  * the five field scores (same float-addition chains, so results are
  * bit-identical), the Python-rounded overall (printf('%.3f') ==
  * exact-binary HALF_EVEN, verified against Python round on 500k
  * values), validation-confidence decay, and the acts list.
  */
object V2Fixtures {

  val nowTs = "2025-06-10 00:00:00"
  val nowIso = "2025-06-10T00:00:00Z"

  /** Raw scraped-shaped records (one per document), pure doc_id
    * arithmetic — see class doc.
    */
  def raw(s: SparkSession, dir: String): DataFrame =
    rawFrom(T.documents(s, dir))

  /** Same derivation over an arbitrary (doc_id, text) frame — lets the
    * scaling probe (graft.tools.ScaleProbe) synthesize N× corpora
    * without touching the read-only testdata.
    */
  def rawFrom(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val base = trim(substring(regexp_replace(col("text"), "\\s+", " "), 1, 20))
    val tsel = id % 23
    val title = when(tsel === 0, lit(null).cast("string"))
      .when(tsel === 1, lit("   "))
      .when(tsel === 2, lit("X"))
      .when(tsel === 3, upper(base))
      .when(tsel === 4, concat(lit("Fiesta "), base, lit(" 2025")))
      .when(tsel === 5, concat(lit("*** "), base, lit(" ***!!!")))
      .when(tsel === 6, concat(lit("Live "), base))
      .otherwise(concat(lit("Noche "), base))
    val off = (id * 37 % 1000 - 150).cast("int")
    val d = date_add(to_date(lit("2025-06-10")), off)
    val dsel = id % 11
    val time = when(dsel === 4, lit("tba soon"))
      .when(dsel === 5, lit(null).cast("string"))
      .when(dsel === 1, date_format(d, "yyyy-MM-dd"))
      .when(dsel === 2, date_format(d, "d/M/yyyy"))
      .when(dsel === 3, date_format(d, "EEEE d MMMM yyyy"))
      .when(dsel === 6, date_format(d, "d MMM yyyy"))
      .otherwise(date_format(d, "d MMMM yyyy"))
    val venue = try_element_at(
      typedLit(Seq("amnesia", "pacha", "hi ibiza", "dc10", "ushuaia",
        "Secret Garden", "Bora Bora Beach")),
      (id % 8 + 1).cast("int")) // index 8 → null venue
    val nActs = (id % 5).cast("int")
    val allActs = transform(sequence(lit(0), lit(3)), j => struct(
      concat(lit("DJ "), ((id * 7 + j) % 97).cast("string")).as("name"),
      when(j % 3 === 1, "Live").when(j % 3 === 2, "VJ")
        .otherwise(lit(null).cast("string")).as("role")))
    val lineup = slice(allActs, lit(1), nActs)
    val gsel = id % 4
    val genres = when(gsel === 0, typedLit(Seq("techno", "deep-house")))
      .when(gsel === 1, typedLit(Seq("house")))
      .when(gsel === 2, typedLit(Seq("ambient")))
      .otherwise(lit(null).cast("array<string>"))
    val psel = id % 7
    val amt = (id % 600 + 2).cast("string")
    val price = when(psel === 0, concat(lit("From €"), amt))
      .when(psel === 1, lit("free entry"))
      .when(psel === 2, concat(lit("£"), amt))
      .when(psel === 3, concat(amt, lit(" EUR")))
      .when(psel === 4, lit(null).cast("string"))
      .when(psel === 5, lit("tba"))
      .otherwise(concat(lit("$"), amt, lit(".50")))
    val url = when(id % 6 === 5, lit(null).cast("string"))
      .otherwise(concat(lit("www.example.com/event/"), id.cast("string")))
    // description: null / empty / rooftop-flavored — "rooftop" and
    // "terrace" appear ONLY here, so text search over the five indexed
    // fields (fix_schema.py:142-148) is exercised on a token that no
    // title/venue/act can contribute.
    val desc = when(id % 13 === 0, lit(null).cast("string"))
      .when(id % 13 === 1, lit(""))
      .otherwise(concat(lit("Warm up on the rooftop terrace with "), base))
    docs.select(id,
      title.as("title"), time.as("time"), venue.as("venue"),
      lineup.as("lineup"), url.as("url"), genres.as("genres"),
      price.as("price_text"), desc.as("short_description"))
  }

  // One unified+scored table per sf dir, materialized once and shared
  // by every v2 query — the production pattern (unify writes a table;
  // the serving queries read it), and what keeps 14 registry queries
  // from re-running the adapter 14 times.
  private val cache =
    scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** The nested V2 events table: unify + quality + post-unify nested
    * enrichment (stage hosts, tier sold-out flags) — cached per dir.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    // keyed by (applicationId, dir): the persisted DataFrame is bound
    // to the SparkContext that built it — a NEW session in the same
    // JVM must rebuild, not reuse a handle into a stopped context.
    // Stale apps' entries are evicted so cycling sessions don't
    // accumulate dead plans.
    val prefix = s.sparkContext.applicationId + ":"
    cache.keys.filterNot(_.startsWith(prefix)).foreach(cache.remove)
    val df = cache.getOrElseUpdate(prefix + dir, {
      val host = when(col("doc_id") % 3 =!= 0,
        concat(lit("Host "), (col("doc_id") % 17).cast("string")))
        .otherwise(lit(null).cast("string"))
      val soldOut = col("doc_id") % 9 === 0
      // repartition the NARROW raw rows before the wide projection:
      // documents.parquet is one small split, so without it the whole
      // adapter+scorer compute runs on one core (8.4s serial vs ~0.6s
      // parallel at sf0.1) — the shuffle moves only slim raw tuples.
      // localCheckpoint then cuts the plan before the nested withField
      // updates so CollapseProject can't inline the giant projection
      // into each struct rebuild.
      Unify.unify(
          raw(s, dir).repartition(s.sparkContext.defaultParallelism),
          "ibiza-spotlight",
          lit(nowTs).cast("timestamp"), keep = Seq("doc_id"))
        // serving projection: only the columns the v2 queries read.
        // The unify tree is ~10⁴ expression nodes; materializing the
        // full document costs ~10s of DRIVER-side analysis/optimization
        // alone (measured at sf0.001 — data-independent), most of it in
        // branches nothing here queries (raw_data to_json, uuid5 event
        // ids, empty default structs). Column pruning collapses the
        // optimized tree several-fold — the same reason etl_unify_score
        // (5 columns) plans in <2s.
        .select(col("doc_id"), col("title"), col("type"), col("venue"),
          col("datetime"), col("acts"), col("content"), col("music"),
          col("ticketing"), col("data_quality"), col("validation_metadata"))
        // content is tiny (one short string + empty arrays) and three
        // serving queries read it now — keep it in the pruned set
        .localCheckpoint()
        .withColumn("venue", col("venue").withField("stages",
          transform(col("venue.stages"), st => st.withField("host",
            struct(host.as("host_name"),
              lit(null).cast("string").as("host_id"))))))
        .withColumn("ticketing", col("ticketing").withField("tiers",
          transform(col("ticketing.tiers"),
            t => t.withField("is_sold_out", soldOut))))
    })
    // persisted here, not once at build: `catalog.clearCache()` (the
    // teardown Bench and tools.Probe run between rows) unpersists the
    // memoized frame without evicting it, and the next v2 row must
    // still read the materialized table
    if (df.storageLevel == StorageLevel.NONE) df.persist() else df
  }

  // ---------------------------------------------------------------
  // DuckDB mirror. ᴰx ≡ CAST(x AS DOUBLE): every float literal is cast
  // so DuckDB doesn't compute in DECIMAL; addition/multiplication
  // chains keep the exact order of the Spark/scorer expressions so the
  // doubles match bit-for-bit.
  // ---------------------------------------------------------------
  private def D(x: String) = s"CAST($x AS DOUBLE)"

  /** Mirror of PythonRound.py_round(x, 3): C-printf %.3f rounds the
    * exact binary value HALF_EVEN (== Python round; DuckDB's round()
    * does neither — it half-away-rounds the FP product x*1000).
    */
  private def pyRound3(x: String) = s"CAST(printf('%.3f', $x) AS DOUBLE)"

  private val specialRatio =
    s"""${D(s"length(regexp_replace(title, '[a-zA-Z0-9\\s\\-&]', '', 'g'))")}
       | / ${D("length(title)")}""".stripMargin.replace("\n", "")

  val oracleCte: String =
    s"""WITH v2base AS (
       |  SELECT doc_id,
       |    trim(substr(regexp_replace(text, '\\s+', ' ', 'g'), 1, 20)) AS b,
       |    doc_id % 23 AS tsel, doc_id % 11 AS dsel, doc_id % 8 AS vsel,
       |    doc_id % 5 AS nacts, doc_id % 4 AS gsel, doc_id % 7 AS psel,
       |    doc_id * 37 % 1000 - 150 AS off, doc_id % 600 + 2 AS amt
       |  FROM documents),
       |v2t AS (
       |  SELECT v2base.*,
       |    CASE WHEN tsel IN (0,1) THEN 'Untitled Event'
       |         WHEN tsel = 2 THEN 'X'
       |         WHEN tsel = 3 THEN upper(b)
       |         WHEN tsel = 4 THEN trim(regexp_replace('Fiesta ' || b || ' 2025', '\\s{2,}', ' ', 'g'))
       |         WHEN tsel = 5 THEN trim(regexp_replace('*** ' || b || ' ***!!!', '\\s{2,}', ' ', 'g'))
       |         WHEN tsel = 6 THEN trim(regexp_replace('Live ' || b, '\\s{2,}', ' ', 'g'))
       |         ELSE trim(regexp_replace('Noche ' || b, '\\s{2,}', ' ', 'g')) END AS title,
       |    CASE WHEN vsel = 0 THEN 'Amnesia' WHEN vsel = 1 THEN 'Pacha'
       |         WHEN vsel = 2 THEN 'Hï Ibiza' WHEN vsel = 3 THEN 'DC10'
       |         WHEN vsel = 4 THEN 'Ushuaïa' WHEN vsel = 5 THEN 'Secret Garden'
       |         WHEN vsel = 6 THEN 'Bora Bora Beach' ELSE 'Unknown Venue' END AS venue_name,
       |    (vsel IN (0,1,2,3,4)) AS vknown,
       |    (dsel NOT IN (4,5)) AS parsed,
       |    CASE WHEN dsel IN (4,5) THEN TIMESTAMP '2025-06-10 00:00:00'
       |         ELSE CAST(DATE '2025-06-10' + CAST(off AS INT) AS TIMESTAMP) + INTERVAL 23 HOUR END AS start_ts,
       |    (psel = 1) AS is_free,
       |    (psel IN (0,2,3,6)) AS has_tiers,
       |    CASE WHEN psel IN (0,2,3) THEN ${D("amt")}
       |         WHEN psel = 6 THEN ${D("amt")} + ${D("0.5")}
       |         WHEN psel = 1 THEN ${D("0.0")} ELSE NULL END AS price,
       |    CASE WHEN psel IN (0,1,3) THEN 'EUR' WHEN psel = 2 THEN 'GBP'
       |         WHEN psel = 6 THEN 'USD' ELSE NULL END AS currency,
       |    (doc_id % 9 = 0) AS tier_sold_out,
       |    CASE WHEN doc_id % 3 <> 0
       |         THEN 'Host ' || CAST(doc_id % 17 AS VARCHAR) END AS host_name,
       |    CASE WHEN doc_id % 13 = 0 THEN NULL
       |         WHEN doc_id % 13 = 1 THEN ''
       |         ELSE 'Warm up on the rooftop terrace with ' || b END AS sdesc,
       |    CASE gsel WHEN 0 THEN 'Techno' WHEN 1 THEN 'House'
       |         WHEN 2 THEN 'Ambient' END AS primary_genre,
       |    list_transform(range(0, CAST(nacts AS INT)),
       |      j -> 'DJ ' || CAST((doc_id * 7 + j) % 97 AS VARCHAR)) AS act_names
       |  FROM v2base),
       |v2s AS (
       |  SELECT v2t.*,
       |    strftime(start_ts, '%Y-%m-%dT%H:%M:%SZ') AS start_date,
       |    CASE WHEN strpos(lower(title), 'festival') > 0 OR strpos(lower(title), 'fest') > 0 THEN 'festival'
       |         WHEN strpos(lower(venue_name), 'beach') > 0 OR strpos(lower(venue_name), 'pool') > 0
       |              OR strpos(lower(venue_name), 'outdoor') > 0 THEN 'day_party'
       |         WHEN strpos(lower(title), 'live') > 0 OR strpos(lower(title), 'concert') > 0
       |              OR strpos(lower(title), 'band') > 0 THEN 'concert'
       |         ELSE 'club_night' END AS event_type,
       |    least(
       |      CASE WHEN length(title) >= 5 THEN ${D("0.3")} ELSE ${D("0.0")} END
       |      + CASE WHEN regexp_matches(title, '\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}|\\d{4}') THEN ${D("0.2")} ELSE ${D("0.0")} END
       |      + CASE WHEN len(string_split_regex(trim(title), '\\s+')) >= 2 THEN ${D("0.2")} ELSE ${D("0.0")} END
       |      + CASE WHEN $specialRatio < ${D("0.2")} THEN ${D("0.2")} ELSE ${D("0.0")} END
       |      + CASE WHEN substr(title, 1, 1) <> lower(substr(title, 1, 1))
       |                  AND NOT (title = upper(title) AND lower(title) <> upper(title))
       |             THEN ${D("0.1")} ELSE ${D("0.0")} END,
       |      ${D("1.0")}) AS s_title,
       |    ${D("0.3")}
       |      + CASE WHEN vsel IN (0,1,2,3,4) THEN ${D("0.1")} ELSE ${D("0.0")} END
       |      + ${D("0.0")} + ${D("0.2")} + ${D("0.1")} + ${D("0.0")} AS s_venue,
       |    ${D("0.4")}
       |      + CASE WHEN dsel IN (4,5) OR (off BETWEEN -30 AND 729) THEN ${D("0.1")} ELSE ${D("0.0")} END
       |      + ${D("0.0")} + ${D("0.0")} + ${D("0.2")} + ${D("0.05")}
       |      + ${D("0.0")} + ${D("0.0")} AS s_datetime,
       |    CASE WHEN nacts = 0 THEN ${D("0.0")}
       |         ELSE least(${D("0.4")}
       |           + ${D("0.4")} * (${D("nacts")} / ${D("nacts")})
       |           + CASE WHEN nacts >= 3 THEN ${D("0.2")} WHEN nacts >= 2 THEN ${D("0.1")} ELSE ${D("0.0")} END,
       |           ${D("1.0")}) END AS s_acts,
       |    least(
       |      CASE WHEN psel = 1 THEN ${D("0.5")} ELSE ${D("0.1")} END
       |      + ${D("0.0")} + ${D("0.0")}
       |      + CASE WHEN psel IN (0,2,3,6) THEN ${D("0.2")} ELSE ${D("0.0")} END
       |      + CASE WHEN psel IN (0,2,3,6) THEN ${D("0.1")} * (${D("1")} / ${D("1")}) ELSE ${D("0.0")} END
       |      + CASE WHEN psel IN (0,3) THEN ${D("0.05")} ELSE ${D("0.0")} END
       |      + CASE WHEN psel IN (0,2,3,6)
       |             AND (CASE WHEN psel = 6 THEN ${D("amt")} + ${D("0.5")} ELSE ${D("amt")} END) >= ${D("5.0")}
       |             AND (CASE WHEN psel = 6 THEN ${D("amt")} + ${D("0.5")} ELSE ${D("amt")} END) <= ${D("500.0")}
       |             THEN ${D("0.05")} ELSE ${D("0.0")} END
       |      + ${D("0.05")},
       |      ${D("1.0")}) AS s_ticketing,
       |    CAST(
       |      (CASE WHEN length(title) < 5 THEN 1 ELSE 0 END
       |       + CASE WHEN $specialRatio >= ${D("0.2")} THEN 1 ELSE 0 END)
       |      + 2
       |      + CASE WHEN dsel NOT IN (4,5) AND off <= -31 THEN 1
       |             WHEN dsel NOT IN (4,5) AND off >= 730 THEN 1 ELSE 0 END
       |      + CASE WHEN nacts = 0 THEN 1 ELSE 0 END
       |      + (CASE WHEN psel <> 1 THEN 1 ELSE 0 END
       |         + CASE WHEN psel IN (0,2,3,6)
       |                AND (CASE WHEN psel = 6 THEN ${D("amt")} + ${D("0.5")} ELSE ${D("amt")} END) > ${D("500.0")}
       |                THEN 1 ELSE 0 END
       |         + CASE WHEN psel IN (0,2,3,6)
       |                AND (CASE WHEN psel = 6 THEN ${D("amt")} + ${D("0.5")} ELSE ${D("amt")} END) < ${D("5.0")}
       |                THEN 1 ELSE 0 END
       |         + CASE WHEN psel NOT IN (0,2,3,6) AND psel <> 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_flags,
       |    ${D("1.0")}
       |      * CASE WHEN tsel IN (0,1) THEN ${D("0.7")} WHEN tsel = 2 THEN ${D("0.9")} ELSE ${D("1.0")} END
       |      * CASE WHEN dsel = 4 THEN ${D("0.7")} ELSE ${D("1.0")} END
       |      * CASE WHEN vsel = 7 THEN ${D("0.9")} ELSE ${D("1.0")} END AS confidence
       |  FROM v2t),
       |v2ev AS (
       |  SELECT v2s.*,
       |    ${pyRound3(
             s"""(s_title * ${D("0.25")} + s_venue * ${D("0.20")} + s_datetime * ${D("0.25")}
                | + s_acts * ${D("0.15")} + s_ticketing * ${D("0.15")})
                | / (${D("0.25")} + ${D("0.20")} + ${D("0.25")} + ${D("0.15")} + ${D("0.15")})"""
               .stripMargin.replace("\n", ""))} AS overall_score,
       |    CASE WHEN is_free THEN 'Free'
       |         WHEN has_tiers AND NOT tier_sold_out THEN 'Available'
       |         WHEN has_tiers THEN 'Sold Out / Check URL'
       |         ELSE 'Unknown' END AS ticket_status,
       |    CASE WHEN has_tiers AND NOT tier_sold_out THEN price END AS avail_price
       |  FROM v2s)
       |""".stripMargin
}
