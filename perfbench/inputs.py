"""Seeded input generation for the benchmark workloads.

Every table is a pure function of the workload's seed, built with numpy
and written with pyarrow, so the engine receives only landed Parquet
files and the DuckDB reference reads the very same files.

Value model per url ``u`` at time ``t`` (years since ``START_UNIX``)::

    value = rate_u * t + amp_u * sin(2 pi t / 7 days) + noise

carried as the leading ``v=<float>`` token of ``text`` (``v=null`` for
a missing value), which is what ``extract_series`` parses.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START_UNIX = 1704067200            # 2024-01-01T00:00:00Z
YEAR_SECONDS = 365.25 * 86400.0
WEEK_SECONDS = 7 * 86400

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

LANGS = np.array(["en", "de", "zh", "es", "fr"])

#: WARC records with no target URI. Their content does not depend on the
#: seed: they carry the rates fault that every batch pass counts, so the
#: count of failed operations is the same whatever the seed.
NULL_URL_ROWS = tuple((START_UNIX + 5400 + k * 21600, 1.25 * k - 2.0)
                      for k in range(6))


@dataclass(frozen=True)
class Crawl:
    """Row arrays of one generated crawl slice (url index, second, value)."""
    url_idx: np.ndarray
    ts: np.ndarray          # epoch seconds, int64
    value: np.ndarray       # float64, NaN = missing value


def url_names(n: int) -> np.ndarray:
    ids = np.arange(n)
    return np.array([f"https://host{i % 40:03d}.example/p/{i:06d}"
                     for i in ids], dtype=object)


def url_params(rng: np.random.Generator, n: int):
    rate = rng.uniform(-50.0, 50.0, n)
    amp = rng.uniform(0.0, 5.0, n)
    return rate, amp


def crawl(rng: np.random.Generator, url_idx: np.ndarray, step_s: int,
          t_lo: int, t_hi: int, gap_share: float,
          rate: np.ndarray, amp: np.ndarray, noise: float,
          null_share: np.ndarray) -> Crawl:
    """One observation per url per ``step_s`` slot in ``[t_lo, t_hi)``,
    each slot kept with probability ``1 - gap_share`` and jittered by
    under a quarter slot, so (url, ts) is unique. ``null_share[u]`` is
    the probability that a kept observation of url ``u`` has no value."""
    n_slots = (t_hi - t_lo) // step_s
    u = np.repeat(url_idx, n_slots)
    k = np.tile(np.arange(n_slots, dtype=np.int64), len(url_idx))
    keep = rng.random(len(u)) >= gap_share
    u, k = u[keep], k[keep]
    quarter = max(step_s // 4 - 1, 0)
    jitter = rng.integers(-quarter, quarter + 1, len(u))
    ts = t_lo + k * step_s + step_s // 2 + jitter
    years = (ts - START_UNIX) / YEAR_SECONDS
    value = (rate[u] * years
             + amp[u] * np.sin(2 * np.pi * (ts - START_UNIX) / WEEK_SECONDS)
             + rng.uniform(-noise, noise, len(u)))
    value[rng.random(len(u)) < null_share[u]] = np.nan
    return Crawl(u, ts.astype(np.int64), value)


def concat(*parts: Crawl) -> Crawl:
    return Crawl(np.concatenate([p.url_idx for p in parts]),
                 np.concatenate([p.ts for p in parts]),
                 np.concatenate([p.value for p in parts]))


def pages_table(c: Crawl, names: np.ndarray,
                null_url_rows=()) -> pa.Table:
    """Crawl rows (plus url-less records) as a pages table."""
    urls = list(names[c.url_idx])
    ts = list(c.ts)
    vals = list(c.value)
    for t, v in null_url_rows:
        urls.append(None)
        ts.append(t)
        vals.append(v)
    tokens = ["v=null" if np.isnan(v) else f"v={v:.6f}" for v in vals]
    text = [f"{tok} page crawl={i} body" for i, tok in enumerate(tokens)]
    html = [f"<html><body>{t}</body></html>".encode() for t in text]
    lang = list(LANGS[c.url_idx % 5]) + ["en"] * len(null_url_rows)
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(np.asarray(ts, dtype="datetime64[s]")
                            .astype("datetime64[us]"),
                            pa.timestamp("us")).cast(
                                pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    }, schema=PAGES_SCHEMA)


def land(table: pa.Table, directory: str, n_files: int,
         prefix: str = "part") -> None:
    """Write ``table`` as ``n_files`` Parquet files under ``directory``,
    each published by rename so a stream never sees a partial file."""
    os.makedirs(directory, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        tmp = os.path.join(directory, f".{prefix}-{i:03d}.parquet.tmp")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       tmp)
        os.replace(tmp, os.path.join(directory, f"{prefix}-{i:03d}.parquet"))
