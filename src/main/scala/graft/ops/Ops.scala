package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column-level operator library mirroring SURVEY.md §2 — zero UDFs, all
  * codegen'd built-ins, so every expression stays inside whole-stage
  * codegen and pushes down to the parquet scan where applicable.
  */
object Ops {

  /** Exact-sum working type. Summing doubles is association-order
    * dependent: Spark's partial/final aggregation tree and DuckDB's
    * sequential sum would drift in the last ulps and break the driver's
    * hash-compare. Decimal arithmetic is exact, so
    * `sum(cast(x as decimal(38,10)))` is order-insensitive and matches the
    * oracle bit-for-bit; the final `cast(double)` is deterministic IEEE
    * nearest. 28 integer digits cannot overflow at any realistic SF.
    */
  val Dec: DecimalType = DecimalType(38, 10)

  /** Decimal → double through the decimal's exact digit string. A direct
    * decimal→double cast is correctly rounded in Spark (BigDecimal) but
    * DOUBLE-ROUNDS in DuckDB when the backing int128 exceeds 2^53 (it
    * converts the integer then divides), landing 1 ulp off for large
    * sums. Both engines parse numeric strings correctly rounded at any
    * magnitude, so the string hop makes the conversion identical — the
    * oracle twins apply the same `CAST(CAST(x AS VARCHAR) AS DOUBLE)`. */
  private def decToDouble(c: Column): Column =
    c.cast("string").cast("double")

  /** Order-insensitive exact sum of a double column (null on empty group,
    * like SQL SUM). */
  def dsum(c: Column): Column = decToDouble(sum(c.cast(Dec)))

  /** Narrow money decimal for PRODUCTS of columns. Multiplying two
    * `Dec`(38,10) operands would force Spark to shrink the result scale
    * (precision cap) and lose exactness; (18,6) operands give an exact
    * decimal(37,12) product within the 38-digit cap. Source doubles are
    * ≤2-dp decimals < 1e6, so the double→decimal conversion is exact and
    * engine-independent — unlike quantizing a double *product*, whose
    * binary garbage at the 10th decimal rounds differently in Spark
    * (shortest-repr) vs DuckDB (full binary expansion). */
  val Money: DecimalType = DecimalType(18, 6)

  /** Narrow 2-dp money casts for the star-join hot path. The general
    * [[Money]] product is (18,6)×(18,6) → decimal(37,12): every per-row
    * product leaves Spark's compact-Long Decimal representation (unscaled
    * value no longer fits a Long), so the aggregation buffer degrades to
    * java.math.BigDecimal adds for the whole fact scan. These casts keep
    * the product at (17,4) and the running sum's unscaled value inside a
    * Long (fast add path) for totals up to ~9e14. VALUE-identical to the
    * [[Money]] spelling whenever both inputs are exactly representable at
    * 2 dp (decimal arithmetic is exact at any precision that fits —
    * OpsSpec pins the equality, and the DuckDB oracle keeps DECIMAL(18,6)
    * and still hash-matches); that is the corpus money contract
    * (prices/discounts generated at 2 dp, price < 1e10). */
  val MoneyCents: DecimalType = DecimalType(12, 2)
  val MoneyFactor: DecimalType = DecimalType(4, 2)

  /** Exact, order-insensitive `sum(a * b)` over double columns holding
    * few-dp decimal values (prices, quantities, discounts). The multiply
    * happens in decimal so no per-row double rounding can drift from the
    * oracle ([[graft.queries.Sql.dsumProd]] is the lockstep twin), and
    * the final decimal→double conversion goes through the exact digit
    * STRING (see [[dsum]]) so it rounds once and identically in both
    * engines at any magnitude. */
  def dsumProd(a: Column, b: Column): Column =
    decToDouble(sum(a.cast(Money) * b.cast(Money)))

  /** Conditional [[dsumProd]] with ClickHouse `sumIf` empty-set-is-0
    * semantics — the safe numerator for VWAP-style ratios. Quantizing a
    * DOUBLE product at scale 10 (the old formulation) diverges between
    * engines for products ≥ ~1e5: Spark quantizes the shortest decimal
    * repr, DuckDB the exact binary expansion. Multiplying in decimal
    * never quantizes a double product at all. */
  def sumIfProd(a: Column, b: Column, p: Column): Column =
    decToDouble(coalesce(sum(when(p, a.cast(Money) * b.cast(Money))),
      lit(0).cast(Money)))

  /** Partial stage of [[dsumProd]] for aggregation BELOW a join: keeps
    * the exact decimal sum so a downstream [[decFinal]] can re-aggregate
    * it after the join. Splitting the aggregation this way shrinks the
    * join's fact-side input to one row per key — the shuffle carries
    * partials, not raw rows — while decimal exactness keeps the final
    * double bit-identical to the unsplit formulation. */
  def dsumProdPartial(a: Column, b: Column): Column =
    sum(a.cast(Money) * b.cast(Money))

  /** [[dsumProdPartial]] restricted to exact-2-dp inputs — see
    * [[MoneyCents]] for the fast-path argument and the exactness bound.
    * Same downstream [[decFinal]]. */
  def dsumProdPartialCents(a: Column, b: Column): Column =
    sum(a.cast(MoneyCents) * b.cast(MoneyFactor))

  /** Single-stage [[dsumProd]] on the [[MoneyCents]] fast path. */
  def dsumProdCents(a: Column, b: Column): Column =
    decToDouble(sum(a.cast(MoneyCents) * b.cast(MoneyFactor)))

  /** Partial stage of [[dsum]] for re-aggregation across stages: keeps
    * the EXACT decimal so the final merge never re-quantizes a double
    * (double→decimal conversion rounds differently across engines above
    * ~4e5 — the [[Money]] note). */
  def dsumPartial(c: Column): Column = sum(c.cast(Dec))

  /** Final stage over partial decimal sums (see [[dsumProdPartial]] /
    * [[dsumPartial]]). */
  def decFinal(c: Column): Column = decToDouble(sum(c))

  /** Exact sum that is 0 (not null) on an empty group — ClickHouse `sum`
    * over zero rows semantics (SURVEY.md §7.5-4). */
  def dsum0(c: Column): Column =
    decToDouble(coalesce(sum(c.cast(Dec)), lit(0).cast(Dec)))

  /** ClickHouse `sumIf(expr, cond)` (reference: api/server.py:146-147):
    * conditional sum, 0 on empty match set. `when` without `otherwise`
    * yields null, which `sum` skips; `coalesce` restores CH's 0. */
  def sumIf(c: Column, p: Column): Column =
    decToDouble(coalesce(sum(when(p, c).cast(Dec)), lit(0).cast(Dec)))

  /** Exact mean: exact sum / count. Plain `avg` over doubles is
    * order-sensitive like `sum`. */
  def avgExact(c: Column): Column = dsum(c) / count(lit(1))

  /** Exact mean for doubles with FULL-precision binary garbage (e.g.
    * float embedding components): quantizing such a value at scale 10
    * rounds the shortest decimal repr in Spark but the exact binary
    * expansion in DuckDB, which can straddle a boundary and drift. Going
    * through the shortest-repr STRING makes both engines parse the same
    * ≤17-significant-digit decimal exactly at scale 25 (no rounding at
    * all), so the sums are identical; `round(_, 12)` (NOT a decimal
    * downcast — DuckDB truncates those while Spark rounds) then the
    * string-hop double conversion make the final value identical at any
    * magnitude ([[graft.queries.Sql.avgFloat]] is the twin). */
  def avgFloat(c: Column): Column =
    decToDouble(round(sum(c.cast("string").cast(DecimalType(38, 25))), 12)) /
      count(lit(1))

  /** Exact, order-insensitive sum for FULL-precision doubles, 0 on an
    * empty match set — [[avgFloat]]'s shortest-repr-string discipline
    * (see its note for why a direct decimal cast drifts) with
    * [[sumIf]]'s ClickHouse empty-set semantics. For conditional use
    * pass `when(p, x)` — nulls are skipped like SQL SUM.
    * ([[graft.queries.Sql.sumFloat0]] is the lockstep twin.) */
  def sumFloat0(c: Column): Column =
    decToDouble(round(
      coalesce(sum(c.cast("string").cast(DecimalType(38, 25))),
        lit(0).cast(DecimalType(38, 25))), 12))

  /** Volume-weighted average price for the rows matching `p`
    * (reference: api/server.py:148-149):
    * `sumIf(price*qty, p) / nullIf(sumIf(qty, p), 0)` — null when the
    * matching set has zero volume. The numerator multiplies in decimal
    * ([[sumIfProd]]) — summing double products cast to decimal would
    * quantize each product, which rounds differently across engines
    * above ~1e5. */
  def vwap(price: Column, qty: Column, p: Column): Column =
    sumIfProd(price, qty, p) / nullif(sumIf(qty, p), lit(0.0d))

  /** `toStartOfMinute(ts)` (reference: sql/V2__create_trades_1m_view.sql:20). */
  def minuteOf(ts: Column): Column = date_trunc("minute", ts)

  /** `toYYYYMM(ts)` monthly partition key
    * (reference: sql/V1__create_trades_table.sql:14). */
  def monthKey(ts: Column): Column = date_format(ts, "yyyyMM")

  /** The flagship OHLCV candle aggregate (reference:
    * sql/V2__create_trades_1m_view.sql:19-29, api/server.py:62-76):
    * open = price at min ts (`argMin`→`min_by`), close = price at max ts
    * (`anyLast`→`max_by`, deterministic under time-ordered arrival —
    * SURVEY.md §7.5-1), high/low = max/min, volume = sum(qty),
    * trades = count. */
  def ohlcvAggs(price: Column, qty: Column, ts: Column): Seq[Column] = Seq(
    min_by(price, ts).as("open"),
    max(price).as("high"),
    min(price).as("low"),
    max_by(price, ts).as("close"),
    dsum(qty).as("volume"),
    count(lit(1)).as("trades"))

  /** [[ohlcvAggs]] for PARTIAL candles that will merge again later:
    * volume stays the EXACT decimal partial ([[dsumPartial]]) instead of
    * a rounded double — re-quantizing a partial's double volume rounds
    * differently once it exceeds ~4e5 (the [[Money]] note), which would
    * break merged == direct in the last ulp. [[decFinal]] closes the sum
    * at read time. */
  def ohlcvPartialAggs(price: Column, qty: Column, ts: Column): Seq[Column] =
    Seq(
      min_by(price, ts).as("open"),
      max(price).as("high"),
      min(price).as("low"),
      max_by(price, ts).as("close"),
      dsumPartial(qty).as("volume"),
      count(lit(1)).as("trades"))

  /** Two-stage salted aggregation for SKEWED group keys: stage 1
    * aggregates on (key, salt) — spreading one hot key over `buckets`
    * reducers — stage 2 merges the partials. Worth it only when a key's
    * row share overwhelms one reducer even after map-side partial
    * aggregation (e.g. high-cardinality payload prevents combine); for
    * ordinary skew AQE's runtime skew handling usually suffices. Sums and
    * counts compose exactly; the pattern extends to any commutative
    * monoid (min/max/sum/count). */
  def saltedAgg(df: DataFrame, keyCols: Seq[String], valueCol: String,
                buckets: Int): DataFrame = {
    // the salt must be DETERMINISTIC per row content: a task-layout-
    // dependent spreader (monotonically_increasing_id) re-salts rows
    // differently when a lost map stage recomputes, migrating rows
    // between (key, salt) shuffle partitions mid-query — the classic
    // indeterminate-stage correctness hazard. Hashing the full row keeps
    // retries consistent; identical rows sharing a bucket is fine.
    val salted = df.withColumn("_salt",
      pmod(hash(df.columns.map(col).toIndexedSeq: _*), lit(buckets)))
    salted
      .groupBy((keyCols.map(col) :+ col("_salt")): _*)
      .agg(sum(col(valueCol).cast(Dec)).as("_psum"),
        count(lit(1)).as("_pcnt"))
      .groupBy(keyCols.map(col): _*)
      .agg(decToDouble(sum(col("_psum"))).as("sum"),
        sum(col("_pcnt")).as("count"))
  }

  /** `agg` over a Seq of columns (Spark's vararg signature needs head/tail). */
  def aggSeq(g: org.apache.spark.sql.RelationalGroupedDataset,
             cols: Seq[Column]): DataFrame =
    g.agg(cols.head, cols.tail: _*)

  /** ReplacingMergeTree(ingested_at) read semantics
    * (reference: sql/V1__create_trades_table.sql:13-15): keep, per sort
    * key, the row with the greatest ingested_at. Implemented as the
    * standard row_number dedup view (SURVEY.md §1.1 / C3). */
  def dedupLatest(df: DataFrame, keyCols: Seq[String],
                  versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(versionCol).desc)
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }
}
