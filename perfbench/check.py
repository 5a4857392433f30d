"""Correctness checks, run after the timed region, in DuckDB.

ETL: an independent replay of the daily run over every delivered batch
(set-up backfill first, then each day in order): parse, stage, dedup,
MERGE, counts and retention, written in DuckDB SQL from the reference
semantics, not through the program's operators. The target on disk and
each day's inserted/updated counts must match it. Where a key's latest
rows tie on TradeInDate the program passes no tie-break, so any of the
tied rows is accepted.

query_mix: each query's result, written as parquet outside the timed
region, must equal its oracle SQL run by DuckDB over the same corpus,
compared as tools/check_oracle.py compares them: columns sorted by name,
cell reprs equal row by row.
"""
import json
import math
import os

import duckdb

RAW_COLUMNS = [
    "SaleInvoiceID", "TradeInTransactionID", "InvoiceIDByStore", "InvoiceID",
    "TradeInStatus", "ItemID", "ManufacturerModel", "SerialNumber", "StoreName",
    "RegionName", "TradeInDate", "PhoneRebateAmount", "PromotionValue",
    "PreDeviceValueAmount", "PrePromotionValueAmount", "TrackingNumber",
    "OriginalTradeInvoiceID", "OrderNumber", "CreditApplicationNum",
    "LocationCode", "MasterOrderNumber", "SequenceNumber", "PromoValue",
    "OrganicPrice", "ComputedPrice", "TradeInMobileNumber", "SubmissionId",
    "TradeInEquipMake", "TradeInEquipCarrier", "DeviceSku", "TradeInDeviceId",
    "LobType", "OrderType", "PurchaseDeviceId", "TradeInAmount", "AmountUsed",
    "AmountPending", "PromoCompletion", "PostTime", "ResponseTime", "MobileNumber",
]

# Accepted timestamp text: date, 'T' or space, time, 0-9 fraction digits,
# optional trailing Z; the fraction is truncated to microseconds.
MACROS = r"""
SET TimeZone = 'UTC';
CREATE MACRO parse_ts(s) AS
  CASE WHEN regexp_full_match(s, '\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d{1,9})?Z?')
  THEN try_strptime(substr(s, 1, 10) || ' ' || substr(s, 12, 8), '%Y-%m-%d %H:%M:%S')
       + to_microseconds(CAST(substr(rpad(coalesce(
           nullif(regexp_extract(s, '\.(\d+)', 1), ''), '0'), 6, '0'), 1, 6) AS BIGINT))
  END;
CREATE MACRO with_fallback(s, now) AS
  coalesce(parse_ts(s), CASE WHEN s IS NOT NULL AND s <> '' THEN now END);
CREATE MACRO staged_ts(ts) AS strftime(ts, '%Y-%m-%d %H:%M:%S.%f');
CREATE MACRO est(ts) AS
  strftime(timezone('America/New_York', CAST(ts AS TIMESTAMPTZ)), '%Y-%m-%d %H:%M:%S');
"""

# The compared target columns, typed as the target stores them.
def canon(prefix=""):
    p = prefix
    cols = [
        f"CAST({p}SaleInvoiceID AS VARCHAR)", f"CAST({p}TradeInDate AS VARCHAR)",
        f"CAST({p}TradeInDateEST AS VARCHAR)", f"{p}TradeInStatus",
        f"CAST({p}TradeInAmount AS VARCHAR)", f"CAST({p}PhoneRebateAmount AS VARCHAR)",
        f"CAST({p}AmountUsed AS VARCHAR)", f"CAST({p}PostTime AS VARCHAR)",
        f"CAST({p}PostTimeEST AS VARCHAR)", f"CAST({p}ResponseTime AS VARCHAR)",
        f"CAST({p}SequenceNumber AS VARCHAR)",
    ]
    return "concat_ws('|', " + ", ".join(f"coalesce({c}, '-')" for c in cols) + ")"


def replay(con, loads):
    """Replays `loads` [(file, now)] in order; returns per-load
    (inserted, updated) as the reference's counts report them. The first
    load is set-up's: stage and merge only, so it leaves staging empty."""
    con.execute("""CREATE OR REPLACE TEMP TABLE staging (
        SaleInvoiceID VARCHAR, TradeInDate VARCHAR, TradeInDateEST VARCHAR,
        TradeInStatus VARCHAR, TradeInAmount VARCHAR, PhoneRebateAmount VARCHAR,
        AmountUsed VARCHAR, PostTime VARCHAR, PostTimeEST VARCHAR,
        ResponseTime VARCHAR, SequenceNumber VARCHAR)""")
    con.execute("""CREATE OR REPLACE TEMP TABLE target (
        k INTEGER, ins TIMESTAMP, upd TIMESTAMP, cands VARCHAR[])""")
    columns = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in RAW_COLUMNS) + "}"
    counts = []
    for i, (path, now) in enumerate(loads):
        n = f"TIMESTAMP '{now}'"
        # stage: parse with the now-fallback, render in staging normal form
        con.execute(f"""INSERT INTO staging
            SELECT SaleInvoiceID,
              staged_ts(with_fallback(TradeInDate, {n})), est(with_fallback(TradeInDate, {n})),
              TradeInStatus, TradeInAmount, PhoneRebateAmount, AmountUsed,
              staged_ts(with_fallback(PostTime, {n})), est(with_fallback(PostTime, {n})),
              staged_ts(with_fallback(ResponseTime, {n})), SequenceNumber
            FROM read_json('{path}', format = 'newline_delimited', columns = {columns})""")
        # dedup: the latest TradeInDate per key (NULL last); ties all stay
        con.execute(f"""CREATE OR REPLACE TEMP TABLE src AS
            SELECT k, list(DISTINCT c ORDER BY c) AS cands FROM (
              SELECT TRY_CAST(SaleInvoiceID AS INTEGER) AS k, {canon("t.")} AS c FROM (
                SELECT TRY_CAST(SaleInvoiceID AS INTEGER) AS SaleInvoiceID,
                  parse_ts(TradeInDate) AS TradeInDate,
                  TRY_CAST(TradeInDateEST AS TIMESTAMP) AS TradeInDateEST, TradeInStatus,
                  TRY_CAST(TradeInAmount AS DECIMAL(18, 2)) AS TradeInAmount,
                  TRY_CAST(PhoneRebateAmount AS DECIMAL(18, 2)) AS PhoneRebateAmount,
                  TRY_CAST(AmountUsed AS DECIMAL(18, 2)) AS AmountUsed,
                  parse_ts(PostTime) AS PostTime,
                  TRY_CAST(PostTimeEST AS TIMESTAMP) AS PostTimeEST,
                  parse_ts(ResponseTime) AS ResponseTime,
                  TRY_CAST(SequenceNumber AS INTEGER) AS SequenceNumber
                FROM (SELECT *, max(TradeInDate) OVER (PARTITION BY SaleInvoiceID) AS latest
                      FROM staging)
                WHERE TradeInDate IS NOT DISTINCT FROM latest) t)
            WHERE k IS NOT NULL GROUP BY k""")
        # MERGE: matched keys take the source row and an update stamp
        con.execute(f"""CREATE OR REPLACE TEMP TABLE target AS
            SELECT coalesce(s.k, t.k) AS k,
              CASE WHEN t.k IS NULL THEN {n} ELSE t.ins END AS ins,
              CASE WHEN s.k IS NOT NULL AND t.k IS NOT NULL THEN {n} ELSE t.upd END AS upd,
              coalesce(s.cands, t.cands) AS cands
            FROM target t FULL OUTER JOIN src s ON t.k = s.k""")
        counts.append(con.execute(f"""SELECT
            count(*) FILTER (WHERE CAST(ins AS DATE) = CAST({n} AS DATE)),
            count(*) FILTER (WHERE CAST(upd AS DATE) = CAST({n} AS DATE))
            FROM target""").fetchone())
        # retention: keep staging rows dated on the run's day
        con.execute(f"""DELETE FROM staging WHERE {i} = 0 OR parse_ts(TradeInDate) IS NULL
            OR CAST(parse_ts(TradeInDate) AS DATE) <> CAST({n} AS DATE)""")
    return counts


def compare_target(con, target_dir):
    """Differences between the target on disk and the replayed one."""
    files = os.path.join(target_dir, "**", "*.parquet")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE actual AS
        SELECT SaleInvoiceID AS k, ETLRowInsertedEST AS ins, ETLRowUpdatedEST AS upd,
          {canon()} AS c
        FROM read_parquet('{files}', hive_partitioning = false, union_by_name = true)""")
    problems = []
    dups = con.execute("SELECT count(*) FROM (SELECT k FROM actual GROUP BY k HAVING count(*) > 1)").fetchone()[0]
    if dups:
        problems.append(f"{dups} keys appear more than once in the target")
    missing = con.execute("SELECT count(*) FROM target t ANTI JOIN actual a ON t.k = a.k").fetchone()[0]
    extra = con.execute("SELECT count(*) FROM actual a ANTI JOIN target t ON t.k = a.k").fetchone()[0]
    if missing or extra:
        problems.append(f"{missing} keys missing from the target, {extra} unexpected")
    wrong = con.execute("""SELECT count(*), any_value(a.c), any_value(t.cands) FROM actual a JOIN target t ON a.k = t.k
        WHERE NOT list_contains(t.cands, a.c) OR a.ins IS DISTINCT FROM t.ins
           OR a.upd IS DISTINCT FROM t.upd""").fetchone()
    if wrong[0]:
        problems.append(f"{wrong[0]} rows differ, e.g. {wrong[1]} not in {wrong[2]}")
    return problems


def check_etl(res, work):
    """Per-pass, per-day verdicts: a day fails when its run raised or its
    counts differ from the replay; the last day of a pass also fails when
    the target differs. `silent` marks a failure the program did not
    raise: a wrong answer returned as if it were right."""
    con = duckdb.connect()
    con.execute(MACROS)
    history = os.path.join(work, "input", "history", "*.jsonl")
    verdicts = []
    for p in res["passes"]:
        ops = p["ops"]
        counts = replay(con, [(history, res["setup_now"])] + [(o["file"], o["now"]) for o in ops])[1:]
        days = []
        for o, (ins, upd) in zip(ops, counts):
            reasons = []
            if not o["ok"]:
                reasons.append("run raised: " + o.get("error", "").splitlines()[0])
            elif (o["inserted"], o["updated"]) != (ins, upd):
                reasons.append(f"counts (inserted, updated) = ({o['inserted']}, {o['updated']}), "
                               f"replay ({ins}, {upd})")
            days.append({"ok": not reasons, "silent": bool(reasons) and o["ok"],
                         "reasons": reasons, "replay_inserted": ins, "replay_updated": upd})
        problems = compare_target(con, os.path.join(p["state"], "target"))
        if problems:
            days[-1]["silent"] = ops[-1]["ok"]
            days[-1]["ok"] = False
            days[-1]["reasons"] += ["target: " + x for x in problems]
        verdicts.append(days)
    return verdicts


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def check_queries(corpus, results, res):
    """Per-pass, per-query verdicts against the DuckDB oracle."""
    con = duckdb.connect()
    for f in sorted(os.listdir(corpus)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(corpus, f)}'")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    cache = {}

    def verdict(name):
        if name in cache:
            return cache[name]
        out = os.path.join(results, name)
        try:
            oracle = con.sql(oracles[name]).df()
            spark = con.sql(f"SELECT * FROM '{out}/*.parquet'").df()
        except Exception as e:  # a missing result or a failing oracle
            cache[name] = f"no comparable result: {str(e).splitlines()[0]}"
            return cache[name]
        oracle = oracle[sorted(oracle.columns)]
        spark = spark[sorted(spark.columns)]
        if list(oracle.columns) != list(spark.columns):
            cache[name] = f"columns {list(spark.columns)} != oracle {list(oracle.columns)}"
        elif len(oracle) != len(spark):
            cache[name] = f"{len(spark)} rows != oracle {len(oracle)}"
        else:
            bad = next((i for i, (a, b) in enumerate(zip(oracle.itertuples(index=False),
                                                          spark.itertuples(index=False)))
                        if tuple(map(_cell, a)) != tuple(map(_cell, b))), None)
            cache[name] = None if bad is None else f"row {bad} differs from the oracle"
        return cache[name]

    verdicts = []
    for p in res["passes"]:
        qs = []
        for o in p["ops"]:
            reasons = [] if o["ok"] else ["query raised: " + o.get("error", "")[:200]]
            v = verdict(o["query"])
            if v:
                reasons.append(v)
            qs.append({"ok": not reasons, "silent": bool(reasons) and o["ok"],
                       "reasons": reasons})
        verdicts.append(qs)
    return verdicts
