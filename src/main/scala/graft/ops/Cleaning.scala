package graft.ops

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._

/** Key-cleaning and categorical-dispatch expressions (SURVEY.md §2.8).
  *
  * All are pure `Column` expression builders — no UDFs — so they stay
  * inside WholeStageCodegen and remain usable in any plan position
  * (filter pushdown, join keys, aggregation keys).
  */
object Cleaning {

  /** F1 `deep_clean`: trim → keep only [A-Za-z0-9] → uppercase.
    * Reference behavior: `scripts/ads_passenger_travel_info_mi.py:145-148`.
    * Runs as the codegen'd byte scan
    * [[graft.functions.AsciiCleanUpper]] — semantically identical to
    * `upper(regexp_replace(trim(c), "[^A-Za-z0-9]", ""))` (equivalence
    * argument in its Scaladoc; the DuckDB oracles keep the regex form,
    * so hash parity pins it) but without a per-fact-row regex machine.
    */
  def deepClean(c: Column): Column =
    graft.functions.AsciiCleanUpper.asciiCleanUpper(c)

  /** F6: strip double quotes and trim (VDV field cleanup).
    * Reference behavior: `scripts/ads_passenger_transfer_count_di.py:88`. */
  def stripQuotes(c: Column): Column =
    trim(regexp_replace(c, "\"", ""))

  /** F2 `map_region_id`: dispatch on operating-department prefix.
    * Reference behavior: `scripts/ads_passenger_travel_info_mi.py:121-132`. */
  def regionFromPrefix(c: Column): Column =
    when(c.startsWith("AD"), "Abu Dhabi")
      .when(c.startsWith("ER"), "Al Ain")
      .when(c.startsWith("WR"), "Al Dhafra")
      .otherwise("Unknown")

  /** F3: region from the first digit of abs(OP_DEP_NO).
    * Reference behavior: `scripts/ads_passenger_travel_time_di.R:104-108`. */
  def regionFromOpDepNo(c: Column): Column = {
    val firstDigit = substring(abs(c).cast("string"), 1, 1)
    when(firstDigit === "1", "Abu Dhabi")
      .when(firstDigit === "2", "Al Ain")
      .when(firstDigit === "3", "Al Dhafra")
      .otherwise("Unknown")
  }

  /** F21 composite service-type dispatch (region × type → label).
    * Reference behavior: `scripts/ads_ridership_passenger_trips_di - first
    * 6 months 2025.py:129-148`. Expressed as a when-chain instead of a
    * row-apply UDF so it is codegen'd and constant-foldable.
    */
  def serviceType(region: Column, stype: Column): Column =
    when(region.isNull || stype.isNull, "Unknown")
      .when(stype === "Link", concat(region, lit(" Link")))
      .when(stype === "Regional", concat(region, lit(" Regional")))
      .otherwise(concat(region, lit(" Local")))

  /** Exact integer division (truncating): Spark IntegralDivide ≡
    * DuckDB `//` on non-negative operands. */
  def intDiv(num: Column, den: Column): Column =
    GraftSqlBridge.column(new IntegralDivide(
      GraftSqlBridge.expression(num), GraftSqlBridge.expression(den)))

  /** Half-up rounding of a NON-NEGATIVE integer ratio to `scale`
    * decimals, decided in EXACT integer arithmetic: the caller
    * pre-scales so that numScaled/den equals value·10^scale; the result
    * is `(2·numScaled + den) div (2·den) / 10^scale` as a double.
    *
    * Why not `round(num/den, scale)`: when the true rational lands
    * exactly on a half-way tie at the rounding scale, the double
    * quotient falls above or below the tie depending on each engine's
    * operation order and double→decimal conversion — measured: q47
    * average_fare 269290.41 vs .42 and q51 avg_travel_time_by_trips
    * 38.3787 vs .3788 against DuckDB at sf0.001 (fare_cents/n hit
    * 442952.5 exactly). Both engines computing the same integer then
    * performing one identical division is bit-deterministic.
    *
    * Caller contract: numScaled, den ≥ 0 integers; den > 0 (guard with
    * `when` outside). The 2·numScaled + den intermediate is formed in
    * decimal(38,0) like [[halfUpScaledLong]]'s — a Long intermediate
    * wraps silently once numScaled grows past ~4.6e18/2 (row-count-
    * proportional sums reach that at the design scale); the quotient
    * itself is back in Long range whenever the VALUE is. DuckDB twin
    * unchanged (`//` on its side is already HUGEINT-safe):
    * `CAST((2*num + den) // (2*den) AS DOUBLE) / 10^scale`. */
  def roundHalfUpRatio(numScaled: Column, den: Column, scale: Int): Column = {
    val dec = "decimal(38,0)"
    GraftSqlBridge.column(new IntegralDivide(
        GraftSqlBridge.expression(numScaled.cast(dec) * 2 + den.cast(dec)),
        GraftSqlBridge.expression(den.cast(dec) * 2)))
      .cast("double") / math.pow(10, scale)
  }

  /** Σx for a column whose values are EXACTLY 2-decimal (the money/
    * measure contract of every fixture column this is applied to,
    * asserted against the data): sum exact integer cents, divide once.
    * Equal to `round(sum(x), 2)` — the sum of 2-decimal values IS
    * 2-decimal — but order-independent, where the double sum differs
    * across engines/partial-agg orders in the last bit and flips
    * round-half ties (the q47/q51 measured defect class). DuckDB twin:
    * `CAST(SUM(CAST(round(x*100) AS BIGINT)) AS DOUBLE) / 100.0`.
    * Accumulates in decimal, not Long: DuckDB's SUM(BIGINT) promotes to
    * HUGEINT while a Long sum would wrap silently near 9.2e18 cents —
    * reachable at extreme row counts; decimal sums are exact at any. */
  def sumExact2(c: Column): Column =
    sum(round(c * 100).cast("long").cast("decimal(20,0)")) / 100.0

  /** num/den as value·10^scale rounded half-up, kept as an exact Long —
    * the pre-summation form of [[roundHalfUpRatio]] for metrics that
    * SUM per-group quotients (e.g. Σ_day trips/users): double quotients
    * make the sum order-dependent in the last bit, while these scaled
    * longs add associatively, so partial aggregation order can never
    * flip a downstream rounding tie. Same caller contract; DuckDB twin
    * `(2*10^scale*num + den) // (2*den)`.
    *
    * The 2·10^scale·num + den intermediate is formed in decimal(38,0)
    * (like [[sumExact2]]): at scale=6 a Long intermediate wraps
    * silently above num ≈ 4.6e12, producing a wrong-but-plausible
    * value — the exact failure class this toolkit exists to prevent.
    * IntegralDivide on decimals still returns Long, so the output
    * type (and all downstream sums) are unchanged; a quotient outside
    * Long range surfaces as an error/null instead of wrapped garbage. */
  def halfUpScaledLong(num: Column, den: Column, scale: Int): Column = {
    val dec = "decimal(38,0)"
    GraftSqlBridge.column(new IntegralDivide(
        GraftSqlBridge.expression(
          num.cast(dec) * (2L * math.pow(10, scale).toLong) + den.cast(dec)),
        GraftSqlBridge.expression(den.cast(dec) * 2)))
  }
}
