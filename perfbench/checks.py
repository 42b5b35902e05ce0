"""Reference computations and the checks that compare products to them.

Every reference is computed apart from the engine: DuckDB SQL over the
landed input files, or a plain-Python replay of a published recurrence
on a product the benchmark has already checked. Nothing is compared
with a stored copy of an earlier output.

A check verifies one operation's output table and returns failure
strings. ``Check.known`` recognises the one fault the benchmark counts
instead of treating as wrong: the fused rates dropping the null-url key.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from perfbench import inputs as I
from perfbench import workloads as W

# ---------------------------------------------------------------------------
# tolerances, each with its reason
# ---------------------------------------------------------------------------

#: tier means, null fractions and window sums: the engine and DuckDB
#: add the same float64 terms in another order (partial aggregates,
#: segment trees), which moves the last bits of values below ~10
SUM_ORDER = (1e-9, 1e-9)                       # (absolute, relative)
#: slope and z-score: a difference of two such sums is divided by a
#: small determinant or deviation, so the summation-order error grows
RATIO = (1e-9, 1e-6)
#: a bucket's value is NULL when its null fraction reaches 0.5; a
#: fraction computed in another order may land on either side of it
THRESH_SLACK = 1e-9
#: fused rates: the cumulative series crosses the kernel boundary as
#: float32 (epsilon 6e-8 on values up to ~10), and the least-squares
#: slope divides that error by spans of ~0.03 years
RATE = (2e-3, 1e-5)
#: z-scores this close to the anomaly threshold may flag either way
Z_SLACK = 1e-6

Failures = list


@dataclass
class Check:
    op: str
    got: object                  # SQL over the product, or an Arrow table
    verify: Callable             # (con, table) -> failures
    corrupt: tuple = ("", "")    # (column, SQL moving it beyond tolerance)
    where: str = ""              # rows the check judges (for the self-test)
    known: Callable = lambda f: False


def pq_dir(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2; SET TimeZone = 'UTC'")
    return con


def materialise(con, name: str, got) -> None:
    if isinstance(got, str):
        con.execute(f"CREATE OR REPLACE TABLE {name} AS {got}")
    else:
        con.register("_arrow_in", got)
        con.execute(f"CREATE OR REPLACE TABLE {name} AS "
                    f"SELECT * FROM _arrow_in")
        con.unregister("_arrow_in")


# ---------------------------------------------------------------------------
# the keyed comparison every table check is built on
# ---------------------------------------------------------------------------

def compare(con, got: str, want: str, keys, exact=(), approx=None,
            skip=None, limit: int = 3) -> Failures:
    """Rows of ``got`` against ``want`` by ``keys`` (NULL is a key value
    like any other): duplicate, missing and extra keys, then columns that
    must be equal (``exact``) or within (abs, rel) (``approx``); ``skip``
    maps a column to a condition on ``g``/``w`` under which it is not
    judged."""
    approx, skip = approx or {}, skip or {}
    kl = ", ".join(keys)
    on = " AND ".join(f"g.{k} IS NOT DISTINCT FROM w.{k}" for k in keys)
    fails = []
    for row in con.execute(
            f"SELECT {kl}, count(*) FROM {got} GROUP BY ALL "
            f"HAVING count(*) > 1 LIMIT {limit}").fetchall():
        fails.append(f"duplicate key {tuple(row[:-1])}")
    for label, a, b in (("missing", want, got), ("extra", got, want)):
        rows = con.execute(
            f"SELECT {', '.join('x.' + k for k in keys)} FROM {a} x "
            f"ANTI JOIN {b} y ON "
            + " AND ".join(f"x.{k} IS NOT DISTINCT FROM y.{k}" for k in keys)
            + f" LIMIT {limit + 1}").fetchall()
        fails += [f"{label} key {tuple(r)}" for r in rows[:limit]]
        if len(rows) > limit:
            fails.append(f"{label} keys beyond the first {limit}")
    conds = {c: f"g.{c} IS DISTINCT FROM w.{c}" for c in exact}
    for c, (atol, rtol) in approx.items():
        conds[c] = (f"((g.{c} IS NULL) <> (w.{c} IS NULL) OR "
                    f"(NOT (isnan(g.{c}) AND isnan(w.{c})) AND "
                    f"abs(g.{c} - w.{c}) > {atol} + {rtol} * abs(w.{c})))")
    gk = ", ".join("g." + k for k in keys)
    for c, cond in conds.items():
        if c in skip:
            cond = f"({cond}) AND NOT ({skip[c]})"
        rows = con.execute(
            f"SELECT {gk}, g.{c}, w.{c}, count(*) OVER () FROM {got} g "
            f"JOIN {want} w ON {on} WHERE {cond} LIMIT 1").fetchall()
        if rows:
            r = rows[0]
            fails.append(f"{c}: {r[-1]} rows differ, e.g. key "
                         f"{tuple(r[:len(keys)])} got {r[-3]!r} "
                         f"want {r[-2]!r}")
    return fails


def keyed(want: str, keys, exact=(), approx=None, skip=None):
    return lambda con, got: compare(con, got, want, keys, exact, approx,
                                    skip)


# ---------------------------------------------------------------------------
# references shared by the workloads
# ---------------------------------------------------------------------------

VALUE_SQL = ("TRY_CAST(NULLIF(regexp_extract(text, 'v=(-?\\d+\\.?\\d*)', 1),"
             " '') AS DOUBLE)")


def load_series(con, name: str, path: str, extra: str = "") -> None:
    con.execute(f"""
        CREATE OR REPLACE TABLE {name} AS
        SELECT url, epoch_ms(warc_ts) // 1000 AS t, {VALUE_SQL} AS value
               {extra}
        FROM {pq_dir(path)}""")


def hourly_sql(series: str) -> str:
    return f"""
        SELECT url, b, CASE WHEN nf < 0.5 THEN a END AS v, nf, n FROM (
            SELECT url, t // 3600 * 3600 AS b, avg(value) AS a,
                   avg(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END) AS nf,
                   count(*) AS n
            FROM {series} GROUP BY ALL)"""


def cascade_sql(tier: str, seconds: int) -> str:
    """DuckDB's own cascade of a tier: means weighted by valid counts."""
    return f"""
        SELECT url, b, CASE WHEN nf < 0.5 THEN a END AS v, nf, n FROM (
            SELECT url, b // {seconds} * {seconds} AS b,
                   sum(v * (n * (1 - nf)))
                     / sum(CASE WHEN v IS NOT NULL THEN n * (1 - nf)
                           ELSE 0 END) AS a,
                   sum(nf * n) / sum(n) AS nf, sum(n) AS n
            FROM {tier} GROUP BY ALL)"""


def tier_got(path: str) -> str:
    return (f"SELECT url, epoch_ms(bucket_start) // 1000 AS b, "
            f"value_avg AS v, null_fraction AS nf, n_obs AS n "
            f"FROM {pq_dir(path)}")


def tier_check(want: str):
    return keyed(want, ["url", "b"], exact=["n"],
                 approx={"v": SUM_ORDER, "nf": SUM_ORDER},
                 skip={"v": f"abs(w.nf - 0.5) < {THRESH_SLACK}"})


def count_check(want: int):
    def verify(con, got):
        rows = [r[0] for r in con.execute(f"SELECT n FROM {got}").fetchall()]
        return [] if rows == [want] else [f"count {rows} != [{want}]"]
    return verify


def count_table(n: int) -> pa.Table:
    return pa.table({"n": pa.array([n], pa.int64())})


# ---------------------------------------------------------------------------
# batch_skewed
# ---------------------------------------------------------------------------

YEAR = I.YEAR_SECONDS


def batch_refs(con, dirs: W.Dirs, meta: dict) -> None:
    load_series(con, "series", f"{dirs.inputs}/pages")
    con.execute(f"CREATE OR REPLACE TABLE w_hourly AS {hourly_sql('series')}")
    con.execute("CREATE OR REPLACE TABLE w_daily AS "
                + cascade_sql("w_hourly", 86400))
    con.execute("CREATE OR REPLACE TABLE w_weekly AS "
                + cascade_sql("w_daily", 7 * 86400))
    span = W.PAIR_SPAN_DAYS * 86400
    lead_terms = " + ".join(
        f"count(*) FILTER (WHERE t{i} IS NOT NULL AND t{i} > t "
        f"AND t{i} <= t + {span})" for i in range(1, W.PAIRS_PER_EPOCH + 1))
    leads = ", ".join(f"lead(t, {i}) OVER w AS t{i}"
                      for i in range(1, W.PAIRS_PER_EPOCH + 1))
    meta["pairs"] = con.execute(
        f"SELECT {lead_terms} FROM (SELECT t, {leads} FROM series "
        f"WINDOW w AS (PARTITION BY url ORDER BY t))").fetchone()[0]
    # a url's slope is checked only when none of its values is missing:
    # then its pair network is consistent and the inversion is exact
    con.execute(f"""
        CREATE OR REPLACE TABLE w_rates AS
        SELECT url, CASE WHEN count(value) = count(*)
                         THEN regr_slope(value, (t - {I.START_UNIX}) / {YEAR})
                    END AS rate
        FROM series GROUP BY url""")
    con.execute("CREATE OR REPLACE TABLE w_hot AS SELECT unnest(?) AS url",
                [meta["hot_urls"]])
    con.execute("""CREATE OR REPLACE TABLE w_encoded AS
        SELECT url, count(*) AS n_points, 16 * count(*) AS bytes_raw
        FROM w_hourly GROUP BY url""")
    dashboard_refs(con)


def _null_url_only(failures) -> bool:
    return failures == ["missing key (None,)"]


def gorilla_identity(tier_path: str):
    """decode(encode(tier)) must give back the tier bit for bit."""
    def verify(con, got):
        def fetch(sql):
            return con.execute(
                f"SELECT url, b, v FROM ({sql}) "
                f"ORDER BY url NULLS FIRST, b").fetchnumpy()
        a = fetch(f"SELECT url, b, v FROM {got}")
        b = fetch(tier_got(tier_path))
        if len(a["b"]) != len(b["b"]):
            return [f"{len(a['b'])} decoded points, tier has {len(b['b'])}"]
        fails = []
        if not (np.array_equal(a["url"], b["url"])
                and np.array_equal(a["b"], b["b"])):
            fails.append("decoded keys differ from the tier's")
        va, vb = a["v"], b["v"]
        ma = np.ma.getmaskarray(va) | np.isnan(np.ma.filled(va, np.nan))
        mb = np.ma.getmaskarray(vb) | np.isnan(np.ma.filled(vb, np.nan))
        bits_a = np.ma.filled(va, 0.0).astype(np.float64).view(np.int64)
        bits_b = np.ma.filled(vb, 0.0).astype(np.float64).view(np.int64)
        bad = (ma != mb) | (~ma & (bits_a != bits_b))
        if bad.any():
            fails.append(f"{int(bad.sum())} decoded values differ in bits")
        return fails
    return verify


def batch_checks(dirs: W.Dirs, meta: dict, out: dict, counts: dict):
    p = dirs.product
    rates_where = "url IN (SELECT url FROM w_rates WHERE rate IS NOT NULL)"
    rates = keyed("w_rates", ["url"], approx={"rate": RATE},
                  skip={"rate": "w.rate IS NULL"})
    return [
        Check("extract", count_table(counts["extract.rows"]),
              count_check(meta["rows"]), ("n", "n + 1")),
        Check("rollup.hour", tier_got(p("hourly")), tier_check("w_hourly"),
              ("v", "v + 1")),
        Check("rollup.day", tier_got(p("daily")), tier_check("w_daily"),
              ("v", "v + 1")),
        Check("rollup.week", tier_got(p("weekly")), tier_check("w_weekly"),
              ("v", "v + 1")),
        Check("pairs", count_table(counts["pairs.rows"]),
              count_check(meta["pairs"]), ("n", "n + 1")),
        Check("grouped.hot_detect",
              pa.table({"url": pa.array(out["hot_keys"], pa.string())}),
              keyed("w_hot", ["url"]), ("url", "url || '#'")),
        Check("grouped.rates",
              f"SELECT url, rate FROM {pq_dir(p('rates'))}", rates,
              ("rate", "rate + 1"), rates_where, known=_null_url_only),
        Check("grouped.rates_mst",
              f"SELECT url, rate FROM {pq_dir(p('rates_mst'))}", rates,
              ("rate", "rate + 1"), rates_where, known=_null_url_only),
        Check("tiersink.encode",
              f"SELECT url, n_points, bytes_raw, bytes_encoded "
              f"FROM {pq_dir(p('encoded'))}",
              _all(keyed("w_encoded", ["url"],
                         exact=["n_points", "bytes_raw"]),
                   _positive("bytes_encoded")),
              ("n_points", "n_points + 1")),
        Check("tiersink.decode",
              f"SELECT url, epoch_ms(bucket_start) // 1000 AS b, "
              f"value_avg AS v FROM {pq_dir(p('decoded'))}",
              gorilla_identity(p("hourly")), ("v", "v + 1")),
    ] + dashboard_checks(dirs)


def _all(*verifiers):
    return lambda con, got: [f for v in verifiers for f in v(con, got)]


def _positive(col: str):
    def verify(con, got):
        n = con.execute(f"SELECT count(*) FROM {got} "
                        f"WHERE NOT ({col} > 0)").fetchone()[0]
        return [f"{col}: {n} rows not positive"] if n else []
    return verify


# ---------------------------------------------------------------------------
# the dashboard products of batch_skewed
# ---------------------------------------------------------------------------

def dashboard_refs(con) -> None:
    """References of the dashboard products, over the ``series`` table."""
    con.execute("""CREATE OR REPLACE TABLE w_ohlc_hour AS
        SELECT url, t // 3600 * 3600 AS b, arg_min(value, t) AS open,
               max(value) AS high, min(value) AS low,
               arg_max(value, t) AS close, min(t) AS open_ts,
               max(t) AS close_ts, count(*) AS n_valid
        FROM series WHERE value IS NOT NULL GROUP BY ALL""")
    G, Wd = W.TWA_MAX_GAP_S, 3600
    con.execute(f"""CREATE OR REPLACE TABLE w_twa AS
        WITH s AS (SELECT url, t, value AS v,
                          lead(t) OVER (PARTITION BY url ORDER BY t) AS tn
                   FROM series WHERE value IS NOT NULL),
        c AS (SELECT url, t, v, least(tn, t + {G}) AS tn FROM s
              WHERE tn IS NOT NULL AND tn > t),
        k AS (SELECT url, t, v, tn,
                     unnest(generate_series(t // {Wd}, (tn - 1) // {Wd})) AS k
              FROM c),
        d AS (SELECT url, k * {Wd} AS b, v,
                     CAST(least(tn, (k + 1) * {Wd}) - greatest(t, k * {Wd})
                          AS DOUBLE) AS dt FROM k)
        SELECT url, b, sum(v * dt) / sum(dt) AS twa,
               CAST(sum(dt) AS BIGINT) AS covered
        FROM d GROUP BY url, b""")
    con.execute(f"""CREATE OR REPLACE TABLE w_lttb AS
        SELECT url, count(*) AS n_in, least(count(*), {W.LTTB_N_OUT}) AS n_kept,
               min(t) AS first_t, max(t) AS last_t
        FROM series WHERE value IS NOT NULL GROUP BY url""")


def dashboard_pass_refs(con, dirs: W.Dirs) -> None:
    """References computed from this pass's own hourly tier, which its
    own check compares with DuckDB's rollup."""
    materialise(con, "p_hourly", tier_got(dirs.product("hourly")))
    con.execute("""CREATE OR REPLACE TABLE w_zscore AS
        SELECT url, b, CAST(n AS INT) AS n_window,
               CASE WHEN var > 0 THEN (v - mean) / sqrt(var) END AS z
        FROM (SELECT *, CASE WHEN n > 1
                             THEN (ss - n * mean * mean) / (n - 1) END AS var
              FROM (SELECT *, CASE WHEN n > 0 THEN s / n END AS mean
                    FROM (SELECT url, b, v, count(v) OVER w AS n,
                                 sum(v) OVER w AS s,
                                 sum(v * v) OVER w AS ss
                          FROM p_hourly WHERE v IS NOT NULL
                          WINDOW w AS (PARTITION BY url ORDER BY b
                                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))))
        """)
    con.execute("""CREATE OR REPLACE TABLE w_zflag AS
        SELECT url, b, z, coalesce(n_window >= 6 AND abs(z) > 3.0, false)
               AS is_anomaly FROM w_zscore""")
    con.execute("""CREATE OR REPLACE TABLE w_asof AS
        SELECT s.url, s.t,
               CASE WHEN s.t - h.b <= ? THEN h.b END AS asof_b,
               CASE WHEN s.t - h.b <= ? THEN h.v END AS hour_avg
        FROM (SELECT coalesce(url, '') AS k, * FROM series) s
        ASOF LEFT JOIN (SELECT coalesce(url, '') AS k, b, v FROM p_hourly
                        WHERE v IS NOT NULL) h
        ON s.k = h.k AND s.t >= h.b""",
                [W.ASOF_TOLERANCE_S, W.ASOF_TOLERANCE_S])


def lttb_verify(con, got) -> Failures:
    """LTTB keeps each url's first and last point, exactly
    min(n_in, n_out) points, all of them input points."""
    fails = compare(con, got, "(SELECT url, t FROM series "
                    "WHERE value IS NOT NULL)", ["url", "t"])
    fails = [f for f in fails if not f.startswith("missing")]
    n = con.execute(f"""SELECT count(*) FROM {got} g ANTI JOIN series s
        ON g.url IS NOT DISTINCT FROM s.url AND g.t = s.t
           AND g.v = s.value""").fetchone()[0]
    if n:
        fails.append(f"{n} kept points are not input points")
    con.execute(f"""CREATE OR REPLACE TEMP VIEW _lttb AS
        SELECT url, max(n_in) AS n_in, count(*) AS n_kept,
               min(t) AS first_t, max(t) AS last_t FROM {got} GROUP BY url""")
    return fails + compare(con, "_lttb", "w_lttb", ["url"],
                           exact=["n_in", "n_kept", "first_t", "last_t"])


def dashboard_checks(dirs: W.Dirs):
    p = dirs.product
    ohlc = ["open", "high", "low", "close", "open_ts", "close_ts", "n_valid"]
    ohlc_sql = ("SELECT url, epoch_ms(bucket_start) // 1000 AS b, open, high, "
                "low, close, epoch_ms(open_ts) // 1000 AS open_ts, "
                "epoch_ms(close_ts) // 1000 AS close_ts, n_valid FROM ")
    return [
        Check("rollup.ohlc_hour", ohlc_sql + pq_dir(p("ohlc_hour")),
              keyed("w_ohlc_hour", ["url", "b"], exact=ohlc),
              ("open", "open + 1")),
        Check("anomaly.zscore",
              "SELECT url, epoch_ms(bucket_start) // 1000 AS b, n_window, "
              f"zscore AS z, is_anomaly FROM {pq_dir(p('zscore'))}",
              _all(keyed("w_zscore", ["url", "b"], exact=["n_window"],
                         approx={"z": RATIO}),
                   keyed("w_zflag", ["url", "b"], exact=["is_anomaly"],
                         skip={"is_anomaly":
                               f"abs(abs(w.z) - 3.0) < {Z_SLACK}"})),
              ("z", "z + 1")),
        Check("metrics.twa",
              "SELECT url, bucket_start AS b, value_twa AS twa, "
              f"covered_sec AS covered FROM {pq_dir(p('twa'))}",
              keyed("w_twa", ["url", "b"], exact=["covered"],
                    approx={"twa": SUM_ORDER}),
              ("twa", "twa + 1")),
        Check("downsample.lttb",
              f"SELECT url, t, v, n_in FROM {pq_dir(p('lttb'))}",
              lttb_verify, ("v", "v + 1")),
        Check("asof",
              "SELECT url, epoch_ms(warc_ts) // 1000 AS t, "
              "epoch_ms(asof_ts) // 1000 AS asof_b, hour_avg "
              f"FROM {pq_dir(p('asof'))}",
              keyed("w_asof", ["url", "t"], exact=["asof_b", "hour_avg"]),
              ("hour_avg", "hour_avg + 1")),
    ]


# ---------------------------------------------------------------------------
# incremental_maintenance
# ---------------------------------------------------------------------------

def incremental_refs(con, dirs: W.Dirs, meta: dict) -> None:
    parts = []
    for i, name in enumerate(meta["slices"] + ["late"]):
        load_series(con, f"s_{name}", f"{dirs.inputs}/{name}",
                    extra=f", {i} AS slice")
        parts.append(f"SELECT * FROM s_{name}")
    con.execute("CREATE OR REPLACE TABLE landed AS "
                + " UNION ALL ".join(parts))


def _state_table(con, name: str, upto: int, watermark: int,
                 url_range: bool = False) -> str:
    """DuckDB's hourly rollup of every row landed up to slice ``upto``,
    for the buckets that end at or before ``watermark``."""
    lo, hi = W.READ_URL_RANGE
    cond = f"AND url >= '{lo}' AND url < '{hi}'" if url_range else ""
    con.execute(f"""CREATE OR REPLACE TABLE {name} AS
        SELECT * FROM ({hourly_sql(f'(SELECT * FROM landed WHERE slice <= {upto})')})
        WHERE b + 3600 <= {watermark} {cond}""")
    return name


def snapshot_rows(table: pa.Table) -> pa.Table:
    """A tier read through the snapshot store, in the checks' columns."""
    ts = table.column("bucket_start").cast(pa.timestamp("us", tz="UTC"))
    secs = pc.divide(ts.cast(pa.int64()), 1_000_000)
    return pa.table({"url": table.column("url"), "b": secs,
                     "v": table.column("value_avg"),
                     "nf": table.column("null_fraction"),
                     "n": table.column("n_obs")})


def raw_rows(table: pa.Table) -> pa.Table:
    ts = table.column("warc_ts").cast(pa.timestamp("us", tz="UTC"))
    return pa.table({"url": table.column("url"),
                     "t": pc.divide(ts.cast(pa.int64()), 1_000_000),
                     "value": table.column("value"),
                     "day": table.column("day")})


def incremental_checks(con, dirs: W.Dirs, meta: dict, out: dict,
                       counts: dict):
    cap = out["captures"]
    checks = []
    n_slices = len(meta["slices"])
    for i, d in enumerate(out["deltas"]):
        want = _state_table(con, f"w_state{i}", i, d["watermark"])
        checks.append(Check(f"streaming@{d['slice']}",
                            snapshot_rows(cap[f"latest@{d['slice']}"]),
                            tier_check(want), ("v", "v + 1")))
        if i == 0:
            continue
        want = _state_table(con, f"w_range{i}", i, d["watermark"], True)
        checks.append(Check(f"snapshots.read_latest@{d['slice']}",
                            snapshot_rows(d["read_latest"]),
                            tier_check(want), ("v", "v + 1")))
        prev = out["deltas"][i - 1]
        want = _state_table(con, f"w_prev{i}", i - 1, prev["watermark"],
                            True)
        checks.append(Check(f"snapshots.read_asof@{d['slice']}",
                            snapshot_rows(d["read_asof"]),
                            tier_check(want), ("v", "v + 1")))
    final_wm = out["deltas"][-1]["watermark"]
    want = _state_table(con, "w_final", n_slices, final_wm)
    checks.append(Check("snapshots.merge", snapshot_rows(cap["latest@late"]),
                        tier_check(want), ("v", "v + 1")))
    con.execute("""CREATE OR REPLACE TABLE w_raw AS
        SELECT url, t, value, strftime(make_timestamp(t * 1000000),
                                       '%Y-%m-%d') AS day FROM landed""")
    checks.append(Check("backfill.raw_store",
                        raw_rows(cap["rows_before_compaction"]),
                        keyed("w_raw", ["url", "t"], exact=["value", "day"]),
                        ("value", "value + 1")))
    materialise(con, "w_compact", raw_rows(cap["rows_before_compaction"]))
    limit = W.SPECS["incremental_maintenance"].extra["max_files_per_day"]
    files = cap["files_after_compaction"]

    def files_per_day(_con, _got):
        return [f"day {d} keeps {len(f)} files > {limit}"
                for d, f in files.items() if len(f) > limit]
    checks.append(Check("retention.compact",
                        raw_rows(cap["rows_after_compaction"]),
                        _all(keyed("w_compact", ["url", "t"],
                                   exact=["value", "day"]), files_per_day),
                        ("value", "value + 1")))
    keep = W.SPECS["incremental_maintenance"].extra["keep_days"]
    now = np.datetime64(out["now"][:10])
    cutoff = str(now - np.timedelta64(keep - 1, "D"))
    con.execute(f"""CREATE OR REPLACE TABLE w_expired AS
        SELECT * FROM w_compact WHERE day >= '{cutoff}'""")
    dropped = sorted(d for d in cap["files_after_compaction"] if d < cutoff)

    def dropped_days(_con, _got):
        got = sorted(out["expired"]["dropped"])
        return [] if got == dropped else [f"dropped {got} != {dropped}"]
    checks.append(Check("retention.expire",
                        raw_rows(cap["rows_after_expiry"]),
                        _all(keyed("w_expired", ["url", "t"],
                                   exact=["value", "day"]), dropped_days),
                        ("value", "value + 1")))

    def two_manifests(_con, _got):
        n = cap["manifests"]
        return [] if n == 2 else [f"{n} snapshots kept, expected 2"]
    checks.append(Check("snapshots.expire", snapshot_rows(cap["latest@end"]),
                        _all(tier_check("w_final"), two_manifests),
                        ("v", "v + 1")))
    return checks


# ---------------------------------------------------------------------------
# running checks, and the self-test that makes sure they bite
# ---------------------------------------------------------------------------

def run(con, checks) -> list[tuple[str, list, bool]]:
    """[(op, failures, is_known_fault)] for every check."""
    results = []
    for i, c in enumerate(checks):
        name = f"got_{i}"
        materialise(con, name, c.got)
        fails = c.verify(con, name)
        results.append((c.op, fails, bool(fails) and c.known(fails)))
    return results


def corruptions(con, table: str, check: Check):
    """Yield (label, corrupted copy) for the three corruptions: one
    dropped row, one value moved beyond tolerance, one duplicated row."""
    col, expr = check.corrupt
    where = check.where or f"{col} IS NOT NULL"
    pick = f"(SELECT min(rowid) FROM _bad WHERE {where})"
    for label, sql in (
            ("dropped row", f"DELETE FROM _bad WHERE rowid = {pick}"),
            ("moved value", f"UPDATE _bad SET {col} = {expr} "
                            f"WHERE rowid = {pick}"),
            ("duplicated row", f"INSERT INTO _bad SELECT * FROM _bad "
                               f"WHERE rowid = {pick}")):
        con.execute(f"CREATE OR REPLACE TABLE _bad AS SELECT * FROM {table}")
        con.execute(sql)
        yield label, "_bad"


def self_test(con, checks) -> list[str]:
    """Every check must pass on the real output (or show only the known
    fault) and fail on each corrupted copy of it. Returns the problems;
    an empty list means every corruption was reported."""
    problems = []
    for i, c in enumerate(checks):
        name = f"got_{i}"
        materialise(con, name, c.got)
        base = c.verify(con, name)
        if base and not c.known(base):
            problems.append(f"{c.op}: fails on the real output: {base}")
            continue
        for label, bad in corruptions(con, name, c):
            fails = c.verify(con, bad)
            if not fails or fails == base:
                problems.append(f"{c.op}: {label} not detected")
    return problems
