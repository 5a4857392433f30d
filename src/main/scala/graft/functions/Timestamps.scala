package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.TimestampType

/** Timestamp-normalization expressions re-expressing the reference's F1–F5
  * scalar functions (SURVEY.md §2.7) as pure Catalyst `Column` trees — no
  * UDFs, so every one of these stays inside whole-stage codegen.
  *
  * Reference semantics (cited by file:line in /root/reference):
  *  - F1 `truncate_microseconds` — rqtradein_etl.py:249-258, folded
  *    into the F2 cast (see [[parseTimestamp]])
  *  - F2 `to_datetime` multi-format parse — rqtradein_etl.py:260-284
  *  - F3 `to_est` — rqtradein_etl.py:286-311
  *  - F4 parse-failure → now() fallback — rqtradein_etl.py:319-322
  *  - F5 EST seconds-precision round-trip — rqtradein_etl.py:325-337
  */
object Timestamps {

  /** F10 + F2: multi-format parse, null when nothing matches (the
    * reference logs and returns None — rqtradein_etl.py:282-284).
    *
    * One TRY-mode string→timestamp cast, not a coalesce of per-format
    * `try_to_timestamp` calls: Spark's native cast parser accepts every
    * shape the reference does — `T` or space separator, optional fraction
    * up to 9 digits, trailing `Z`/offset — in a single codegen'd call
    * with no regex, and additionally covers the reference's
    * `fromisoformat` fallback (rqtradein_etl.py:275-281) the format list
    * missed (e.g. date-only strings). This is the hot path of the staging
    * load (three parses per row) and of the typed projection (six) — the
    * format-chain version was ~10× slower (4 regex evaluations + 4
    * formatter attempts per value).
    *
    * The cast truncates over-long fractions (7+, even past 9 digits) to
    * microseconds — verified empirically — which is precisely the
    * reference's `truncate_microseconds` behavior (F1), so no regex
    * normalization is needed on this path at all. */
  def parseTimestamp(c: Column): Column =
    ColumnBridge.column(
      Cast(ColumnBridge.expression(c), TimestampType, None, EvalMode.TRY))

  /** F4 policy: parse, but substitute `now` for non-empty unparseable
    * values (rqtradein_etl.py:319-322). Off the hot path for tests (clean
    * fixtures); kept for pipeline fidelity. */
  def parseWithNowFallback(c: Column, now: Column = current_timestamp()): Column =
    coalesce(parseTimestamp(c), when(c.isNotNull && c =!= "", now))

  /** F3: naive-UTC timestamp → "yyyy-MM-dd HH:mm:ss" string in
    * America/New_York (seconds precision — the reference formats with
    * `%Y-%m-%d %H:%M:%S`, dropping sub-seconds; rqtradein_etl.py:311). */
  def toEstString(ts: Column): Column =
    date_format(from_utc_timestamp(ts, "America/New_York"), "yyyy-MM-dd HH:mm:ss")

  /** F5: the EST *timestamp* columns as the reference materializes them —
    * the F3 string re-parsed, i.e. the EST wall-clock at seconds precision
    * (rqtradein_etl.py:332-333). Modeled as an explicit second-truncation
    * so the precision loss is visible in the plan. */
  def toEstTimestamp(ts: Column): Column =
    from_utc_timestamp(date_trunc("second", ts), "America/New_York")

  /** Epoch-microseconds of a timestamp of EITHER precision flavor —
    * `unix_micros` itself rejects TIMESTAMP_NTZ with DATATYPE_MISMATCH,
    * and source data has shipped as both types (the corpus regenerated
    * from LTZ to NTZ mid-history, breaking every raw `unix_micros` call
    * site). The cast is a no-op for TimestampType (Catalyst folds it
    * away) and a wall-clock-preserving reinterpretation for NTZ under
    * the repo-wide UTC session timezone, so both flavors land on the
    * identical long. Use this, never bare `unix_micros`, inside
    * operators that accept caller-supplied timestamp columns. */
  def tsMicros(c: Column): Column = unix_micros(c.cast(TimestampType))
}
