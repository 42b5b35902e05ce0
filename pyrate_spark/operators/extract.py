"""pages -> per-url observation series.

The first thing the engine does is project the wide page row down to the
narrow numeric series ``(url, warc_ts, value)`` — the analog of the
reference opening only the phase band (shared.py:393-401). ``html`` (the
fat binary column) is dropped before any shuffle; ``text`` is only ever
re-joined at the sink by (url, warc_ts), preserving the byte-identical
row invariant without paying its weight through wide transforms
(SURVEY.md §7 watch-item f).

nodata -> NULL conversion mirrors the reference's 0.0->NaN rule
(shared.py:342-366): a non-numeric v-token becomes SQL NULL, and every
downstream operator is NULL-aware.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pyrate_spark.datagen import START_UNIX, YEAR_SECONDS
from pyrate_spark.operators.grouped import pin_clustering

VALUE_RE = r"v=(-?\d+\.?\d*)"


def extract_series(pages: DataFrame, value_expr=None,
                   cluster_by_url: bool = True) -> DataFrame:
    """Narrow series projection. ``value_expr`` defaults to parsing the
    leading v= token of ``text``; any column expression works (e.g.
    ``F.length('text')`` for a size metric).

    ``cluster_by_url`` (r8, guide §2.4/§8): the extraction is the head
    of an overwhelmingly url-keyed pipeline — tier rollups, pair
    windows, per-url folds, grouped-map kernels — each of which would
    otherwise shuffle the same rows by url again. Establishing
    hash(url) clustering HERE, once, on the narrow projection lets
    every such consumer plan zero further exchanges, on this frame or
    on a persisted copy of it: Spark's planner sees the clustering and
    drops the consumers' own ``repartition(url)`` / ``repartition(N,
    url)``. One exchange of (url, ts, value, lang) replaces ~8
    per-stage exchanges on the bench. It is ``pin_clustering``'s
    explicit-count form, so AQE never folds it (and the grouped
    kernels downstream) into one task.
    Streaming frames are never repartitioned (the stateful aggregation
    manages its own partitioning); pass False for a purely columnar
    one-shot consumer that never keys by url."""
    if value_expr is None:
        tok = F.regexp_extract("text", VALUE_RE, 1)
        value_expr = F.when(tok == "", None).otherwise(tok).cast("double")
    out = pages.select(
        "url",
        "warc_ts",
        value_expr.alias("value"),
        "lang",
    )
    if cluster_by_url and not out.isStreaming:
        out = pin_clustering(out)
    return out


#: dotall so body text may span lines; anchored to the exact document
#: shell datagen/ingest write, so a malformed payload extracts "" (and
#: fails the invariant gate) rather than silently truncating
HTML_BODY_RE = r"(?s)^<html><body>(.*)</body></html>$"


def extract_text_html(pages: DataFrame,
                      html_col: str = "html") -> DataFrame:
    """Recover the extracted text from the raw ``html`` binary payload
    (the S2 parse applied to the fat column instead of the carried
    ``text``): UTF-8 decode + anchored dotall body regexp, all
    JVM-side column algebra — no Python. Adds ``text_from_html``.

    The BASELINE row invariant (byte-identical extracted text per url)
    is what this recovers: ``text_from_html`` must equal the carried
    ``text`` column byte-for-byte, gated by pytest on generated pages
    and by the ``html_text_invariant`` oracle query on the documents
    table."""
    return pages.withColumn(
        "text_from_html",
        F.regexp_extract(F.decode(F.col(html_col), "UTF-8"),
                         HTML_BODY_RE, 1))


def to_mm_analog(series: DataFrame, wavelength: float) -> DataFrame:
    """Unit projection analog of radians->mm (shared.py:764-787):
    value * 1000 * wavelength / (4*pi). Idempotence is the caller's
    concern (the reference tracks it via metadata flags)."""
    import math
    return series.withColumn(
        "value", F.col("value") * F.lit(1000.0 * wavelength / (4 * math.pi)))


def with_t_years(series: DataFrame, origin_unix: int = START_UNIX) -> DataFrame:
    """Year-fraction axis column (EpochList.spans analog,
    algorithm.py:207-208)."""
    return series.withColumn(
        "t_years",
        (F.unix_timestamp("warc_ts").cast("double") - F.lit(float(origin_unix)))
        / F.lit(YEAR_SECONDS))


def epsilon_guard(series: DataFrame, col: str = "value") -> DataFrame:
    """The reference's 1e-20 shim keeping exact-0 results from being
    re-interpreted as nodata downstream (ref_phs_est.py:169-184)."""
    return series.withColumn(col, F.col(col) + F.lit(1e-20))
