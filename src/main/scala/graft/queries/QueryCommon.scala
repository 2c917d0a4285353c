package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Helpers shared by more than one query family. */
private[queries] object QueryCommon {

  /** DuckDB's whitespace tokenization of `text` (TextOps.tokens) for
    * the oracles. */
  val ToksSql =
    """list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"""

  /** sum(CAST(expr AS DECIMAL(18,s))) → double — order-independent. */
  def dsum(c: Column, scale: Int): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** 2024-01-01 00:00 UTC (a Monday) in epoch micros — the fixed origin
    * for minute/week bucketing of `events.ts` (data spans 2024-01-01 →
    * 2024-01-30, so offsets are always non-negative and `div` ≡ floor
    * in both engines). */
  val OriginUs = 1704067200000000L

  /** Guarded DECIMAL(38,0)→int64 narrowing for exact sufficient
    * statistics (trend_slope / autocorr / diff_in_diff): with ANSI off
    * Spark narrows an oversized decimal to NULL silently while the
    * DuckDB oracle's HUGEINT→BIGINT throws, so past the encoding
    * contract's scale the engines would diverge silently —
    * raise_error makes Spark fail loudly like the oracle. TWO bands
    * are covered: fits-decimal-but-exceeds-int64 (the range compare)
    * AND decimal(38,0) sum overflow itself, which under non-ANSI
    * arithmetic surfaces as a NULL sum — every call site aggregates a
    * non-null column over a nonempty group, so a NULL here can ONLY
    * mean overflow, never missing input. */
  def longExact(q: String)(c: Column): Column =
    when(c.isNull, raise_error(lit(
      s"graft $q: sufficient statistic overflowed decimal(38,0)")))
      .when(c > lit(Long.MaxValue) || c < lit(Long.MinValue),
        raise_error(concat(
          lit(s"graft $q: sufficient statistic exceeds int64: "),
          c.cast("string"))))
      .otherwise(c.cast("long"))

  /** Two-level "cumulative count strictly BEFORE each value" over a
    * value histogram `(valCol: long, c: long, …)` whose cardinality is
    * SF-PROPORTIONAL (per-customer/per-user sums are near-unique, so
    * the histogram ≈ the entity count) — the scale-safe replacement
    * for `Window.orderBy(v)` over such a frame, which funnels every
    * entity through ONE sort task at 100 TB.
    *
    * Level 1: range-bucket v by `bucketWidth` (floor division — order-
    * preserving, including negatives) and prefix-sum the per-bucket
    * totals. That frame is VALUE-DOMAIN-bounded (≈ domain/width rows,
    * flat in table size — the centi-value-histogram argument), so its
    * unpartitioned window and the broadcast of the resulting offsets
    * are both provably bounded. Level 2: the per-value cumulative sum
    * runs PARTITIONED BY bucket — each bucket sorts ~1/buckets of the
    * histogram, in parallel — and cb = bucket offset + local cum.
    * Bit-identical to the single-window form, so oracles that keep the
    * plain SQL window are unchanged. Appends column `cb`. */
  def bucketedCumBefore(
      hist: DataFrame, valCol: String, bucketWidth: Long): DataFrame = {
    val b = hist.withColumn("gbkt", expr(
      s"CASE WHEN $valCol >= 0 THEN $valCol div $bucketWidth " +
        s"ELSE -((-$valCol + ${bucketWidth - 1}) div $bucketWidth) END"))
    val wb = Window.orderBy(col("gbkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = b.groupBy(col("gbkt")).agg(sum(col("c")).as("gbc"))
      .withColumn("goff", coalesce(sum(col("gbc")).over(wb), lit(0L)))
      .select(col("gbkt"), col("goff"))
    val wl = Window.partitionBy(col("gbkt")).orderBy(col(valCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    b.withColumn("glcb", coalesce(sum(col("c")).over(wl), lit(0L)))
      .join(broadcast(offsets), "gbkt")
      .withColumn("cb", col("goff") + col("glcb"))
      .drop("gbkt", "goff", "glcb")
  }
}
