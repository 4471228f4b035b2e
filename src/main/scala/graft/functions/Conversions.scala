package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar conversion registry — graft's equivalent of the reference's
  * `TRANSFORMS` table (`/root/reference/src/transform.py:112-119`).
  *
  * Every function here composes Catalyst expressions (built-in or graft's
  * own) — no UDFs. A transform select-list collapses into the envelope's
  * select (above its decode-once projection, [[graft.operators.Envelope]]),
  * which on JSON input runs outside whole-stage codegen.
  *
  * Timezone model: the reference emits naive Europe/Oslo wall-clock datetimes
  * (`_adjust_timezone`, `/root/reference/src/transform.py:8-21`). graft
  * reproduces that with `from_utc_timestamp(instant, "Europe/Oslo")` under a
  * UTC session TZ: the stored value IS the Oslo wall-clock reading of the
  * instant. Known edge divergence: the reference resolves the autumn DST
  * ambiguity with pytz `is_dst=True` keyed on the *naive UTC* wall clock,
  * which mislabels the 1-hour fold window; graft (and any instant-based
  * engine, incl. the DuckDB oracle) converts by instant, which is the
  * correct and scale-stable semantics.
  */
object Conversions {

  private val Oslo = "Europe/Oslo"

  /** Floor-division of a Long column by a positive constant, in exact decimal
    * arithmetic. Epoch-nanos (~1.77e18) exceed double's 2^53 exact range, so a
    * double detour can be off by 1 unit near boundaries; decimal(20,0) holds
    * the full Long range and the quotient's scale-6 result is exact for the
    * divisors used here. Floor (not truncate) so pre-1970 negatives round the
    * same way as Python `//` and DuckDB's epoch functions.
    */
  private def floorDivExact(c: Column, divisor: Long): Column =
    floor(c.cast("decimal(20,0)") / lit(divisor)).cast("long")

  /** Upstream TIMESTAMP(NANOS) parquet columns arrive as Long nanos (see
    * [[graft.GraftSession]]); truncate to Spark's microsecond timestamps.
    */
  def nanosToTimestamp(c: Column): Column =
    timestamp_micros(floorDivExact(c, 1000L))

  /** Long nanos -> epoch milliseconds (floor), matching DuckDB `epoch_ms`. */
  def nanosToEpochMs(c: Column): Column =
    floorDivExact(c, 1000000L)

  /** Normalize an event-time column to the engine's canonical Long
    * epoch-nanos, dispatching on the column's RESOLVED type at plan time.
    *
    * Parquet in the wild carries event time in three physical shapes:
    *   - TIMESTAMP(NANOS), which Spark reads as Long under `nanosAsLong`
    *     (see [[graft.GraftSession]]) — already canonical;
    *   - TIMESTAMP(MICROS/MILLIS) adjusted-to-UTC → Spark `TimestampType`;
    *   - naive timestamp (the pandas/pyarrow default) → `TimestampNTZType`.
    * The reference's epoch handling is type-tolerant
    * (`/root/reference/src/transform.py:63-87` accepts whatever the payload
    * carries); graft matches by dispatching HERE, once, instead of assuming
    * one physical type at every call site. The NTZ branch interprets the
    * wall clock as UTC via a cast under the pinned-UTC session TZ — the same
    * instant DuckDB's `epoch_ms(ts)` assigns a naive timestamp, so oracle
    * parity is preserved across all three shapes.
    *
    * Micros→nanos (`*1000`) is exact in Long until year 2262 — the same
    * bound TIMESTAMP(NANOS) itself has.
    */
  def tsToLongNanos(df: org.apache.spark.sql.DataFrame, colName: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(colName).dataType match {
      case LongType => col(colName)
      case TimestampType => unix_micros(col(colName)) * lit(1000L)
      case TimestampNTZType => unix_micros(col(colName).cast(TimestampType)) * lit(1000L)
      case other => throw new IllegalArgumentException(
        s"event-time column `$colName` has unsupported type $other " +
          "(expected Long epoch-nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }

  /** [[tsToLongNanos]] applied in place: downstream operators always see the
    * canonical Long-nanos `ts`, whatever the file carried. No-op (no extra
    * projection) when the column is already Long.
    */
  def normalizeTsNanos(df: org.apache.spark.sql.DataFrame, colName: String = "ts"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    df.schema(colName).dataType match {
      case LongType => df
      case _ => df.withColumn(colName, tsToLongNanos(df, colName))
    }
  }

  /** `str -> str-code` (`/root/reference/src/transform.py:33-46`):
    * DVH code standard. NULL -> "UKJENT"; whitespace runs -> `_`; uppercase;
    * AE/OE/AA-fold Norwegian letters; strip anything outside `[0-9A-Z_]`;
    * empty -> "UKJENT".
    *
    * Implemented as the native codegen'd [[graft.expressions.StrCode]]
    * expression (one fused pass); [[strCodeBuiltins]] is the equivalent
    * builtin composition, kept as the executable spec the property test
    * checks the expression against.
    */
  def strCode(c: Column): Column = {
    import org.apache.spark.sql.graft.Shim
    Shim.column(graft.expressions.StrCode(Shim.expression(c)))
  }

  /** Unicode NFC canonicalization (native codegen'd
    * [[graft.expressions.NfcNormalize]]): run BEFORE any hash-based text
    * operator — composed vs decomposed forms of the same visible string
    * otherwise defeat exact dedup, shingling and fingerprints.
    */
  def nfcNormalize(c: Column): Column = {
    import org.apache.spark.sql.graft.Shim
    Shim.column(graft.expressions.NfcNormalize(Shim.expression(c)))
  }

  /** Python `str.split()`'s whitespace class as a Java-regex character
    * class: ASCII `\s` + the separators `Character.isWhitespace` adds
    * (U+001C–U+001F, U+1680, U+2000–U+200A, U+2028/29, U+205F, U+3000)
    * + the four "non-breaking" ones Python includes but Java excludes
    * (NEL U+0085, NBSP U+00A0, figure space U+2007, narrow NBSP U+202F).
    */
  private val pyWs =
    "[\\s\\u001C-\\u001F\\u0085\\u00A0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]"

  /** The SAME character class in RE2 syntax (`\x{…}` escapes — RE2 has no
    * `￿` form) for DuckDB oracle regexes: an oracle that collapses on
    * ASCII `\s` while Spark collapses on the Python class would turn
    * `A<NBSP>B` into `AB` vs Spark's `A_B` and hash-mismatch.
    */
  val pyWsSql: String =
    "[\\s\\x{001C}-\\x{001F}\\x{0085}\\x{00A0}\\x{1680}\\x{2000}-\\x{200A}" +
      "\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}]"

  /** The 6-step builtin chain with identical semantics (reference spec). */
  def strCodeBuiltins(c: Column): Column = {
    val collapsed =
      regexp_replace(regexp_replace(c, s"^$pyWs+|$pyWs+$$", ""), s"$pyWs+", "_")
    val folded = regexp_replace(
      regexp_replace(regexp_replace(upper(collapsed), "Æ", "A"), "Ø", "O"),
      "Å", "AA")
    val stripped = regexp_replace(folded, "[^0-9A-Z_]", "")
    coalesce(nullif(stripped, lit("")), lit("UKJENT"))
  }

  /** Norwegian month names in calendar order — shared by the lenient-date
    * ladder and its gate's input generator.
    */
  val norwegianMonths: Seq[String] = Seq(
    "januar", "februar", "mars", "april", "mai", "juni",
    "juli", "august", "september", "oktober", "november", "desember")

  /** Norwegian weekday names, Monday-first (ISO order) — recognized as a
    * strippable prefix on Norwegian date forms ("mandag 2. januar 2024"),
    * the same treatment dateparser's nb locale gives the token.
    */
  val norwegianDays: Seq[String] = Seq(
    "mandag", "tirsdag", "onsdag", "torsdag", "fredag", "lørdag", "søndag")

  /** English weekday names, Monday-first — the compound-relative rung's
    * vocabulary ("2 weeks ago tuesday"); shared with the gate generator.
    */
  val englishDays: Seq[String] = Seq(
    "monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday")

  /** `str -> datetime-no` (`/root/reference/src/transform.py:49-60`): lenient
    * date parse (reference uses `dateparser` with English locale), then Oslo
    * wall clock; unparseable -> NULL. graft tries a fixed format ladder —
    * deterministic and covering the formats the reference's data actually
    * carries (ISO-8601 first).
    */
  def lenientDateOslo(c: Column): Column = lenientDateOslo(c, None)

  /** As [[lenientDateOslo]], plus RELATIVE-date rungs ("yesterday",
    * "2 days ago", "in 3 hours" — `dateparser`'s English relative forms)
    * anchored to `anchorUtc` — the plan-time `$$BATCH_TIME`, so the result
    * is deterministic by construction (the reference anchors to the wall
    * clock of whichever worker parses the row; a frozen batch anchor is the
    * only well-defined semantics under distributed/retried execution).
    *
    * Implemented as the native [[graft.expressions.LenientDate]] expression
    * — ONE imperative pass per row instead of a ~45-branch `coalesce`
    * whose shared subexpressions (normalized string, anchor date parts,
    * per-rung regex extracts) get re-evaluated at every reference (lazy
    * branches are outside Catalyst subexpression elimination; measured
    * ~4× on the t7 gate corpus). Every format attempt inside the
    * expression goes through the SAME `TimestampFormatter` that
    * `try_to_timestamp` uses, so per-pattern semantics are inherited, not
    * re-implemented. [[lenientDateOsloBuiltins]] keeps the original
    * builtin composition as the executable spec; the equivalence property
    * in `Round10PropertySpec` replays every rung and fuzzed junk through
    * both.
    */
  def lenientDateOslo(c: Column, anchorUtc: Option[Column]): Column = {
    import org.apache.spark.sql.graft.Shim
    val anchorExpr = anchorUtc.map(Shim.expression)
      .getOrElse(org.apache.spark.sql.catalyst.expressions.Literal(
        null, org.apache.spark.sql.types.TimestampType))
    from_utc_timestamp(
      Shim.column(graft.expressions.LenientDate(Shim.expression(c), anchorExpr)),
      Oslo)
  }

  /** The builtin-composition ladder with identical semantics (executable
    * spec for [[lenientDateOslo]]'s native expression — kept verbatim from
    * the round-9 oracle-green implementation; see the equivalence property).
    */
  def lenientDateOsloBuiltins(c: Column, anchorUtc: Option[Column]): Column = {
    val s = trim(c)
    val relative = anchorUtc.map { a =>
      // "a week ago" / "in an hour": dateparser's freshness grammar maps
      // the English articles to 1 — normalize before the numeric patterns.
      val low = regexp_replace(
        regexp_replace(lower(s), "^(a|an) ", "1 "), "^in (a|an) ", "in 1 ")
      val agoPat = "^(\\d{1,6}) (second|minute|hour|day|week|month|year)s? ago$"
      val inPat = "^in (\\d{1,6}) (second|minute|hour|day|week|month|year)s?$"
      def spanSeconds(nStr: Column, unit: Column): Column =
        nStr.cast("long") * when(unit === "second", 1L).when(unit === "minute", 60L)
          .when(unit === "hour", 3600L).when(unit === "day", 86400L)
          .when(unit === "week", 604800L)
      def shift(a0: Column, secs: Column): Column =
        a0 + make_dt_interval(lit(0), lit(0), lit(0), secs.cast("decimal(18,6)"))
      // month/year units are CALENDAR arithmetic (dateparser uses
      // relativedelta), not a fixed second span: "3 months ago" from
      // May 31 is Feb 28/29, which no seconds multiplier reproduces.
      def calShift(pat: String, sign: Int): Column = {
        val n = regexp_extract(low, pat, 1).cast("int") * sign
        val unit = regexp_extract(low, pat, 2)
        val months = when(unit === "month", n).otherwise(n * 12)
        // add_months drops the time-of-day; re-attach the anchor's clock
        // INCLUDING fractional seconds (dateparser's relativedelta keeps
        // microseconds — the seconds-based shift branches do too, so the
        // two relative-unit families must agree on sub-second precision).
        to_timestamp(concat(
          add_months(a.cast("date"), months).cast("string"), lit(" "),
          date_format(a, "HH:mm:ss.SSSSSS")))
      }
      val isCal = (pat: String) =>
        regexp_extract(low, pat, 2) === "month" || regexp_extract(low, pat, 2) === "year"
      // Month-day forms without a year ("June 15", "15 june"): dateparser
      // fills the year from the relative base and the time with 00:00.
      // (Bare weekday / "last tuesday" forms are deliberately NOT covered:
      // dateparser's week-anchor choice there is settings-dependent and
      // under-documented — a silently wrong date is worse than a NULL.)
      val yr = date_format(a, "yyyy")
      val mdPat = "^[a-z]{3,9} \\d{1,2}$"
      val dmPat = "^\\d{1,2} [a-z]{3,9}$"
      val monthDay = coalesce(
        when(low.rlike(mdPat), coalesce(
          try_to_timestamp(concat(yr, lit(" "), low), lit("yyyy MMMM d")),
          try_to_timestamp(concat(yr, lit(" "), low), lit("yyyy MMM d")))),
        when(low.rlike(dmPat), coalesce(
          try_to_timestamp(concat(yr, lit(" "), low), lit("yyyy d MMMM")),
          try_to_timestamp(concat(yr, lit(" "), low), lit("yyyy d MMM")))))
      // Norwegian relative forms (dateparser's nb locale, the reference's
      // own domain): "i går"/"i dag"/"i morgen"/"nå", "for N <enhet> siden"
      // (ago) and "om N <enhet>" (in). Units map onto the English machinery
      // so second/calendar arithmetic stays identical across locales.
      val noUnits = "sekund|sekunder|minutt|minutter|time|timer|dag|dager|uke|uker|måned|måneder|år"
      val noAgoPat = s"^for (\\d{1,6}) ($noUnits) siden$$"
      val noInPat = s"^om (\\d{1,6}) ($noUnits)$$"
      def unitNoEn(u: Column): Column =
        when(u.startsWith("sekund"), lit("second"))
          .when(u.startsWith("minutt"), lit("minute"))
          .when(u.startsWith("time"), lit("hour"))
          .when(u.startsWith("dag"), lit("day"))
          .when(u.startsWith("uke"), lit("week"))
          .when(u.startsWith("måned"), lit("month"))
          .otherwise(lit("year"))
      def noCalShift(pat: String, sign: Int): Column = {
        val n = regexp_extract(low, pat, 1).cast("int") * sign
        val unit = unitNoEn(regexp_extract(low, pat, 2))
        val months = when(unit === "month", n).otherwise(n * 12)
        to_timestamp(concat(
          add_months(a.cast("date"), months).cast("string"), lit(" "),
          date_format(a, "HH:mm:ss.SSSSSS")))
      }
      val isNoCal = (pat: String) => {
        val u = unitNoEn(regexp_extract(low, pat, 2))
        u === "month" || u === "year"
      }
      // Compound relative "N units ago <weekday>" ("2 weeks ago tuesday"):
      // shift the anchor first (seconds or calendar, as the plain rung),
      // then resolve the weekday within the ISO (Monday-start) week
      // CONTAINING the shifted base at midnight — dateparser's
      // current-period weekday resolution applied to the shifted anchor.
      // Deterministic by construction, like every rung here.
      val cAgoPat =
        s"^(\\d{1,6}) (second|minute|hour|day|week|month|year)s? ago (${englishDays.mkString("|")})$$"
      val compoundAgo = when(low.rlike(cAgoPat), {
        val nS = regexp_extract(low, cAgoPat, 1)
        val unit = regexp_extract(low, cAgoPat, 2)
        val cal = {
          val n = nS.cast("int") * -1
          val months = when(unit === "month", n).otherwise(n * 12)
          to_timestamp(concat(
            add_months(a.cast("date"), months).cast("string"), lit(" "),
            date_format(a, "HH:mm:ss.SSSSSS")))
        }
        val base = when(unit === "month" || unit === "year", cal)
          .otherwise(shift(a, -spanSeconds(nS, unit)))
        val d0 = base.cast("date")
        val monday = date_sub(d0, (dayofweek(d0) + lit(5)) % 7)
        val wd = regexp_extract(low, cAgoPat, 3)
        val idx = englishDays.zipWithIndex.foldLeft(lit(0)) {
          case (acc, (nm, i)) => when(wd === nm, lit(i)).otherwise(acc)
        }
        date_add(monday, idx).cast("timestamp")
      })
      coalesce(
        when(low === "now" || low === "today", a),
        when(low === "yesterday", shift(a, lit(-86400L))),
        when(low === "tomorrow", shift(a, lit(86400L))),
        when(low === "nå" || low === "i dag", a),
        when(low === "i går", shift(a, lit(-86400L))),
        when(low === "i morgen", shift(a, lit(86400L))),
        when(low.rlike(agoPat) && isCal(agoPat), calShift(agoPat, -1)),
        when(low.rlike(inPat) && isCal(inPat), calShift(inPat, 1)),
        when(low.rlike(agoPat),
          shift(a, -spanSeconds(regexp_extract(low, agoPat, 1), regexp_extract(low, agoPat, 2)))),
        when(low.rlike(inPat),
          shift(a, spanSeconds(regexp_extract(low, inPat, 1), regexp_extract(low, inPat, 2)))),
        when(low.rlike(noAgoPat) && isNoCal(noAgoPat), noCalShift(noAgoPat, -1)),
        when(low.rlike(noInPat) && isNoCal(noInPat), noCalShift(noInPat, 1)),
        when(low.rlike(noAgoPat), shift(a, -spanSeconds(
          regexp_extract(low, noAgoPat, 1), unitNoEn(regexp_extract(low, noAgoPat, 2))))),
        when(low.rlike(noInPat), shift(a, spanSeconds(
          regexp_extract(low, noInPat, 1), unitNoEn(regexp_extract(low, noInPat, 2))))),
        compoundAgo,
        monthDay)
    }
    // Norwegian month-name dates ("2. januar 2024", "15 mars 2023"),
    // optionally led by a weekday token ("mandag 2. januar 2024") which is
    // stripped, not validated — exactly dateparser's nb-locale treatment.
    // Normalized to ISO via a month-name→number when-chain and re-parsed;
    // case-insensitive; date-only scope (time-of-day forms stay with the
    // numeric rungs).
    val lowNo = lower(s)
    val noPat = s"^(?:(?:${norwegianDays.mkString("|")}),? )?" +
      s"(\\d{1,2})\\.? (${norwegianMonths.mkString("|")}) (\\d{4})$$"
    val noMonthNum = norwegianMonths.zipWithIndex.foldLeft(lit(0)) {
      case (acc, (m, i)) => when(regexp_extract(lowNo, noPat, 2) === m, lit(i + 1)).otherwise(acc)
    }
    val norwegian = when(lowNo.rlike(noPat), try_to_timestamp(
      concat_ws("-",
        regexp_extract(lowNo, noPat, 3),
        lpad(noMonthNum.cast("string"), 2, "0"),
        lpad(regexp_extract(lowNo, noPat, 1), 2, "0")),
      lit("yyyy-MM-dd")))
    val parsed = coalesce(Seq(
      // Offset-bearing ISO forms first (XXX accepts both `Z` and `+02:00`);
      // the parsed instant is already UTC-anchored, so the trailing
      // from_utc_timestamp lands on the same Oslo wall clock the reference's
      // dateparser + _adjust_timezone pipeline produces.
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")),
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(s, lit("yyyy-MM-dd HH:mm:ssXXX")),
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")),
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ss.SSS")),
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ss")),
      try_to_timestamp(s, lit("yyyy-MM-dd HH:mm:ss.SSSSSS")),
      try_to_timestamp(s, lit("yyyy-MM-dd HH:mm:ss.SSS")),
      try_to_timestamp(s, lit("yyyy-MM-dd HH:mm:ss")),
      try_to_timestamp(s, lit("yyyy-MM-dd")),
      try_to_timestamp(s, lit("yyyy/MM/dd")),
      try_to_timestamp(s, lit("dd.MM.yyyy HH:mm:ss")),
      try_to_timestamp(s, lit("dd.MM.yyyy")),
      try_to_timestamp(s, lit("dd/MM/yyyy HH:mm:ss")),
      try_to_timestamp(s, lit("dd/MM/yyyy")),
      try_to_timestamp(s, lit("dd-MM-yyyy HH:mm:ss")),
      try_to_timestamp(s, lit("dd-MM-yyyy")),
      // 12-hour AM/PM forms (dateparser's en locale accepts these)
      try_to_timestamp(s, lit("yyyy-MM-dd hh:mm:ss a")),
      try_to_timestamp(s, lit("yyyy-MM-dd hh:mm a")),
      try_to_timestamp(s, lit("dd/MM/yyyy hh:mm a")),
      try_to_timestamp(s, lit("MMM d, yyyy hh:mm a")),
      try_to_timestamp(s, lit("d MMM yyyy")),
      try_to_timestamp(s, lit("d MMMM yyyy")),
      try_to_timestamp(s, lit("MMM dd yyyy")),
      try_to_timestamp(s, lit("MMMM dd, yyyy")),
      try_to_timestamp(s, lit("yyyyMMdd")),
      // Epoch-in-string (dateparser accepts bare epochs): 9–10 digits =
      // seconds, 12–13 = milliseconds. 8-digit runs stay with `yyyyMMdd`
      // above and 11 digits is ambiguous (kept unparsed) — the digit-count
      // bands are disjoint from every format rung, so ladder order is
      // irrelevant for these.
      when(s.rlike("^\\d{9,10}$"), timestamp_seconds(s.cast("long"))),
      when(s.rlike("^\\d{12,13}$"), timestamp_millis(s.cast("long"))),
      norwegian) ++ relative.toSeq: _*)
    from_utc_timestamp(parsed, Oslo)
  }

  /** `int-unix-s -> datetime-no` (`/root/reference/src/transform.py:63-74`). */
  def unixSecondsOslo(c: Column): Column =
    from_utc_timestamp(timestamp_seconds(c), Oslo)

  /** `int-unix-ms -> datetime-no` (`/root/reference/src/transform.py:77-87`),
    * millisecond precision preserved.
    */
  def unixMillisOslo(c: Column): Column =
    from_utc_timestamp(timestamp_millis(c.cast("long")), Oslo)

  /** `bool -> int` (`/root/reference/src/transform.py:90-98`), null-safe. */
  def boolToInt(c: Column): Column = c.cast("int")

  /** `datetime -> datetime-no` (`/root/reference/src/transform.py:101-109`):
    * instant (UTC) -> Oslo wall clock.
    */
  def datetimeOslo(c: Column): Column = from_utc_timestamp(c, Oslo)

  /** T15 (`/root/reference/src/kafka_source.py:77-78`): big-endian int64 key
    * bytes -> decimal string. `conv(hex(bytes),16,10)` is unsigned; matches
    * Python `int.from_bytes(x, "big")` for the non-negative ids Kafka keys
    * carry.
    */
  def bigEndianLongKey(c: Column): Column = conv(hex(c), 16, 10)

  /** T16 (`/root/reference/src/kafka_source.py:130`): Confluent wire-format
    * schema id — big-endian uint32 at bytes 2-5.
    */
  def schemaId(c: Column): Column = conv(hex(substring(c, 2, 4)), 16, 10).cast("int")

  /** T13: lowercase-hex sha256 content hash, matching Python `hexdigest()`
    * (`/root/reference/src/kafka_source.py:114,126,150`) and DuckDB `sha256`.
    */
  def sha256Hex(c: Column): Column = sha2(c.cast("binary"), 256)

  /** JSON-quote a bare string like Python `json.dumps(str, ensure_ascii=False)`
    * — used by the string deserializer's `kafka_message`
    * (`/root/reference/src/kafka_source.py:124`). Native
    * [[graft.expressions.PyJsonQuote]]: byte-exact Python escaping (lowercase
    * `\u00xx` control escapes, non-ASCII raw), unlike the earlier
    * `to_json(array(s))` bracket-strip which rode on Jackson's uppercase-hex
    * escapes.
    */
  def jsonQuote(c: Column): Column = {
    import org.apache.spark.sql.graft.Shim
    Shim.column(graft.expressions.PyJsonQuote(Shim.expression(c)))
  }

  /** Canonical `kafka_message` for struct payloads: re-emits the RAW JSON
    * message text byte-exactly as the reference's
    * `json.dumps(filtered_dict, ensure_ascii=False)` would
    * (`/root/reference/src/kafka_source.py:107-118`) — per-row key insertion
    * order, `", "`/`": "` separators, Python float `repr`, minimal escapes —
    * with F1 drops / F2 presence flags applied in-pass by cleaned keypath.
    * See [[graft.expressions.PyJsonDumps]]; opt-in via
    * `SourceConfig.canonicalMessage`.
    */
  def pyJsonCanonical(c: Column, drop: Seq[String] = Nil, flag: Seq[String] = Nil,
      sep: String = "."): Column = {
    import org.apache.spark.sql.graft.Shim
    Shim.column(graft.expressions.PyJsonDumps(Shim.expression(c), drop, flag, sep))
  }

  /** The conversion-registry lookup used by the transform compiler
    * (`fun:` key -> Column function). Unknown keys fail at plan build, like
    * the reference's KeyError at transform construction.
    */
  val registry: Map[String, Column => Column] = Map(
    "str -> str-code" -> strCode,
    "str -> datetime-no" -> (c => lenientDateOslo(c)),
    "int-unix-s -> datetime-no" -> unixSecondsOslo,
    "int-unix-ms -> datetime-no" -> unixMillisOslo,
    "bool -> int" -> boolToInt,
    "datetime -> datetime-no" -> datetimeOslo)

  def resolve(fun: Option[String]): Column => Column = resolve(fun, None)

  /** Registry lookup with the plan-time batch anchor threaded into the one
    * conversion whose semantics need it (relative dates in
    * `str -> datetime-no`).
    */
  def resolve(fun: Option[String], batchAnchorUtc: Option[java.sql.Timestamp]): Column => Column =
    fun match {
      case None => identity
      case Some("str -> datetime-no") if batchAnchorUtc.isDefined =>
        c => lenientDateOslo(c, batchAnchorUtc.map(lit(_)))
      case Some(f) =>
        registry.getOrElse(f, throw new IllegalArgumentException(s"unknown transform fun: $f"))
    }
}
