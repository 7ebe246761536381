"""Output checks. Batch outputs are compared with the DuckDB oracle SQL that
`graft.SparkEntry.oracleSql` holds for the same computation where one
exists, on every input set a pass read, and the warm-pass output must
equal the output of the pass that first read the same input set. The
stream's sinks are compared with a DuckDB batch twin over the events that
were delivered."""
import datetime as dt
import os

import duckdb
import pyarrow.parquet as pq

import metrics

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def rows(table):
    """(sorted column names, sorted normalized rows) of an arrow table."""
    cols = sorted(table.column_names)
    data = [[_norm(v) for v in table.column(c).to_pylist()] for c in cols]
    return cols, sorted(zip(*data), key=repr) if data else []


def diff(got, exp):
    """None when the two arrow tables hold the same rows, else a reason."""
    gc, gr = rows(got)
    ec, er = rows(exp)
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"{len(gr)} rows != {len(er)}"
    if gr != er:
        bad = next(i for i, (a, b) in enumerate(zip(gr, er)) if a != b)
        return f"row {bad}: {gr[bad]} != {er[bad]}"
    return None


# Checks run after the measured JVM has exited, so they may use every CPU.
THREADS = os.cpu_count() or 1


def connect(data_dir):
    con = duckdb.connect()
    con.execute(f"SET threads TO {THREADS}")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def same_output(con, a, b):
    """None when parquet directories `a` and `b` hold the same multiset of
    rows (exact), else a reason."""
    ra, rb = (f"read_parquet('{d}/*.parquet')" for d in (a, b))
    try:
        n, extra, missing = con.execute(
            f"SELECT (SELECT count(*) FROM {ra}),"
            f" (SELECT count(*) FROM (FROM {ra} EXCEPT ALL FROM {rb})),"
            f" (SELECT count(*) FROM (FROM {rb} EXCEPT ALL FROM {ra}))").fetchone()
    except duckdb.Error:  # types DuckDB cannot compare: compare in Python
        return diff(pq.read_table(a), pq.read_table(b))
    return f"{extra} rows only in one, {missing} only in the other" \
        if extra or missing else None


def batch(result):
    """[(op, failure or None)] for every op of a batch run. The output of
    every pass over a new input set (the first pass and the cold passes)
    is checked against the oracle on that input set; the last warm output
    of each input set must equal the output of the pass that first read
    that set."""
    passes = result["passes"]
    firsts = {p["input"]: p for p in passes if p["phase"] in ("first", "cold")}
    warms = {p["input"]: p for p in passes if p["phase"] == "warm"}
    cons = {d: connect(d) for d in firsts}
    out = []
    for op in result["ops"]:
        why = None
        try:
            for d, warm in warms.items():
                why = same_output(cons[d], os.path.join(warm["out"], op),
                                  os.path.join(firsts[d]["out"], op))
                if why:
                    why = f"warm pass differs from cold pass: {why}"
                    break
            if not why and op in result["oracle"]:
                for d, p in firsts.items():
                    exp = cons[d].execute(result["oracle"][op]).fetch_arrow_table()
                    why = diff(pq.read_table(os.path.join(p["out"], op)), exp)
                    if why:
                        why = f"oracle on {os.path.basename(d)}: {why}"
                        break
        except Exception as e:  # a missing output is a failed op
            why = f"{type(e).__name__}: {e}"
        out.append((op, why))
    return out


# Batch twins of the three streaming queries, over the delivered events.
# The window sink holds windowedTypeCounts' 10 s tumbling windows that end
# at or before the final watermark ({wm}, epoch ms); the DIM upsert keeps
# the latest event per user; first-event-of-day emits one row per
# (user, day).
WINDOW_SQL = """
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS stt,
       strftime(w + INTERVAL 10 SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
       strftime(w, '%Y-%m-%d') AS cur_date, event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
FROM (SELECT to_timestamp(floor(epoch(ts) / 10) * 10)::TIMESTAMP AS w, *
      FROM delivered)
WHERE epoch_ms(w) + 10000 <= {wm}
GROUP BY ALL"""
DIM_SQL = """
SELECT user_id AS event_id, ts, event_type, value FROM delivered
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1"""
UU_SQL = """
SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS event_date FROM delivered"""


def stream(result):
    """[(sink, failure or None)] for the three stream sinks."""
    check = result["outputs"]["check"]
    con = duckdb.connect()
    con.execute(f"SET threads TO {THREADS}")
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW delivered AS SELECT * REPLACE (ts::TIMESTAMP AS ts) "
                f"FROM read_parquet('{check}/delivered/*.parquet')")
    out = []
    try:
        sinks = metrics.sink_tables(result)
    except Exception as e:
        return [("sinks", f"{type(e).__name__}: {e}")]
    window_sql = WINDOW_SQL.format(wm=metrics.final_watermark_ms(result))
    for sink, sql in [("window", window_sql), ("dim", DIM_SQL), ("uu", UU_SQL)]:
        try:
            got = sinks[sink]
            if sink == "uu":
                # first-event-of-day picks the event within each micro-batch,
                # so which event id opens a day depends on batch boundaries;
                # the (user, day) pairs and their multiplicity do not.
                got = got.select(["user_id", "event_date"])
            exp = con.execute(sql).fetch_arrow_table()
            why = diff(got, exp)
        except Exception as e:
            why = f"{type(e).__name__}: {e}"
        out.append((sink, why))
    return out
