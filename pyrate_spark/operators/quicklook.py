"""S9 quicklook sink: colour-relief PNG + colourmap + KML sidecar for a
rate / error map, matching the reference's quicklook semantics
(/root/reference/pyrate/merge.py:149-237, ``create_png_and_kml_from_tif``)
without gdal: the colourmap maths (254 even steps -> 255 entries,
blue->white->red symmetric map for rate products, white->red for error
products, ``nan 0 0 0 0`` transparency row) is reproduced exactly, the
nearest-colour-entry classification (gdaldem ``-nearest_color_entry``)
is uniform-grid rounding because the breaks are a linspace, and the PNG
is written by a pure numpy+zlib encoder.

Scale split: statistics (min/max) and per-pixel class assignment run
distributed as column algebra; only the final bounded preview raster
(height x width class indices — a quicklook is by definition a small
image; the reference materializes the full merged array in driver
memory too, merge.py:239-258) is collected to build the PNG.
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame, functions as F

N_STEPS = 254  # reference: "must be even (hard-coded to 254 -> 255 values)"

RATE_TYPES = ("stack_rate", "linear_rate", "rate")
ERROR_TYPES = ("stack_error", "linear_error", "linear_rsquared", "error")


def quicklook_colormap(minimum: float, maximum: float, output_type: str):
    """(breaks[255], rgba[255,4] float) per merge.py:195-225.

    Rate maps get a symmetric range around zero with blue (positive) ->
    white (zero) -> red (negative); error maps white -> red. The
    returned min/max are the (possibly symmetrized) range actually used.
    """
    if output_type in RATE_TYPES:
        maximum = max(abs(minimum), abs(maximum))
        minimum = -maximum
        mid = N_STEPS // 2
        r = np.arange(0, mid) / mid
        g = r
        r = np.concatenate((r, np.ones(mid + 1)))
        g = np.concatenate((g, np.array([1.0]), np.flipud(g)))
        b = np.flipud(r)
        r = np.flipud(r) * 255
        g = np.flipud(g) * 255
        b = np.flipud(b) * 255
    elif output_type in ERROR_TYPES:
        r = np.ones(N_STEPS + 1) * 255
        g = np.arange(0, N_STEPS + 1) / N_STEPS
        g = np.flipud(g) * 255
        b = g.copy()
    else:
        raise ValueError(f"unknown quicklook output_type {output_type!r}")
    breaks = np.linspace(minimum, maximum, N_STEPS + 1)
    rgba = np.stack([r, g, b, np.full(N_STEPS + 1, 255.0)], axis=1)
    return breaks, rgba, float(minimum), float(maximum)


def class_index_col(value, minimum, maximum):
    """Nearest-colour-entry class index as a Spark column expression.

    The breaks are ``linspace(min, max, 255)`` so nearest-entry lookup
    is uniform-grid rounding; ties resolve upward via floor(x + 0.5)
    (identical semantics in Spark and ANSI SQL — no round-mode
    ambiguity). NULL/NaN input -> NULL (the transparent row).
    """
    v = F.col(value) if isinstance(value, str) else value
    span = maximum - minimum
    if span <= 0:
        return F.when(v.isNotNull() & ~F.isnan(v), F.lit(0))
    x = (v - F.lit(minimum)) / F.lit(span) * F.lit(float(N_STEPS))
    idx = F.floor(x + F.lit(0.5)).cast("int")
    idx = F.least(F.lit(N_STEPS), F.greatest(F.lit(0), idx))
    return F.when(v.isNotNull() & ~F.isnan(v), idx)


def write_png(rgba: np.ndarray, path: str) -> bytes:
    """Minimal RGBA8 PNG encoder (IHDR/IDAT/IEND, filter 0, zlib).

    Deterministic output (fixed zlib level) so tests can golden-hash it.
    """
    h, w = rgba.shape[:2]
    raw = np.ascontiguousarray(rgba, dtype=np.uint8)
    rows = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), raw.reshape(h, w * 4)], axis=1)
    compressed = zlib.compress(rows.tobytes(), 6)

    def chunk(tag: bytes, payload: bytes) -> bytes:
        out = struct.pack(">I", len(payload)) + tag + payload
        return out + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
           + chunk(b"IDAT", compressed)
           + chunk(b"IEND", b""))
    with open(path, "wb") as f:
        f.write(png)
    return png


def write_colormap_txt(breaks, rgba, path: str) -> None:
    """The gdaldem colour-relief text file, byte-format-compatible with
    merge.py:227-231 ('nan 0 0 0 0' + '%f %f %f %f 255' lines)."""
    with open(path, "w") as f:
        f.write("nan 0 0 0 0\n")
        for value, (r, g, b, _a) in zip(breaks, rgba):
            f.write("%f %f %f %f 255\n" % (value, r, g, b))


def write_kml(output_type: str, bounds: dict, path: str) -> None:
    """GroundOverlay KML per merge.py:166-185 (bounds supplied by the
    caller instead of parsed out of gdalinfo)."""
    content = f"""<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://earth.google.com/kml/2.1">
  <Document>
    <name>{output_type}.kml</name>
    <GroundOverlay>
      <name>{output_type}.png</name>
      <Icon>
        <href>{output_type}.png</href>
      </Icon>
      <LatLonBox>
        <north> {bounds['north']} </north>
        <south> {bounds['south']} </south>
        <east>  {bounds['east']} </east>
        <west>  {bounds['west']} </west>
      </LatLonBox>
    </GroundOverlay>
  </Document>
</kml>"""
    with open(path, "w") as f:
        f.write(content)


def quicklook_sink(grid: DataFrame, out_dir: str, output_type: str,
                   value_col: str = "value", y_col: str = "y",
                   x_col: str = "x", height: int | None = None,
                   width: int | None = None,
                   bounds: dict | None = None) -> dict:
    """Render a (y, x, value) raster DataFrame to
    ``{out_dir}/{output_type}.png`` + colourmap txt + KML + a stats
    sidecar JSON; returns the stats dict.

    Distributed part: min/max aggregation and class-index assignment.
    Driver part: one collect of height*width (class, y, x) ints — the
    bounded preview image itself.
    """
    os.makedirs(out_dir, exist_ok=True)
    v = F.col(value_col)
    valid = v.isNotNull() & ~F.isnan(v)
    stats = grid.agg(
        F.min(F.when(valid, v)).alias("mn"),
        F.max(F.when(valid, v)).alias("mx"),
        F.max(F.col(y_col)).alias("ymax"),
        F.max(F.col(x_col)).alias("xmax")).first()
    mn = stats["mn"] if stats["mn"] is not None else 0.0
    mx = stats["mx"] if stats["mx"] is not None else 0.0
    h = height or int(stats["ymax"]) + 1
    w = width or int(stats["xmax"]) + 1
    breaks, rgba, mn, mx = quicklook_colormap(mn, mx, output_type)

    classed = grid.select(
        F.col(y_col).cast("int").alias("y"),
        F.col(x_col).cast("int").alias("x"),
        class_index_col(value_col, mn, mx).alias("cls"))
    rows = classed.collect()

    img = np.zeros((h, w, 4), dtype=np.uint8)  # default: transparent nan
    if rows:
        ys = np.array([r["y"] for r in rows])
        xs = np.array([r["x"] for r in rows])
        # fail loudly instead of IndexError mid-render / silent
        # negative-index wraparound to the opposite PNG edge
        if ys.min() < 0 or xs.min() < 0 or ys.max() >= h or xs.max() >= w:
            raise ValueError(
                f"grid coords out of raster bounds: y in "
                f"[{ys.min()}, {ys.max()}], x in [{xs.min()}, {xs.max()}] "
                f"vs height={h}, width={w}")
        cl = np.array([-1 if r["cls"] is None else r["cls"] for r in rows])
        ok = cl >= 0
        img[ys[ok], xs[ok]] = np.round(rgba[cl[ok]]).astype(np.uint8)

    write_png(img, os.path.join(out_dir, f"{output_type}.png"))
    write_colormap_txt(breaks, rgba,
                       os.path.join(out_dir, f"colourmap_{output_type}.txt"))
    bounds = bounds or {"north": h, "south": 0, "east": w, "west": 0}
    write_kml(output_type, bounds, os.path.join(out_dir, f"{output_type}.kml"))
    meta = {"min": mn, "max": mx, "height": h, "width": w,
            "output_type": output_type, "n_pixels": len(rows)}
    with open(os.path.join(out_dir, f"{output_type}.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


def rate_grid(per_key: DataFrame, key_col: str = "url",
              value_col: str = "rate", width: int = 16,
              max_pixels: int = 1 << 20,
              partitions: int | None = None) -> DataFrame:
    """Lay per-key scalars onto a deterministic (y, x) preview grid by
    sorted key order (row-major) — the graft's analog of the
    reference's tile-assembled raster.

    The global rank is computed WITHOUT a single-partition sort (r5):
    range-repartition on the key, per-partition-sorted row numbers,
    plus a broadcast join of per-partition row-count offsets — the
    distributed zipWithIndex-over-sorted pattern. At 10^8 keys the old
    ``row_number().over(Window.orderBy(key))`` shuffled every row to
    ONE task; here each task ranks only its own key range, and the
    offset side is one tiny driver aggregate (#partitions rows).
    Determinism: the offsets are derived from the same deterministic
    range partitioning that the returned plan re-executes, and
    ``quicklook_sink`` fails loudly on any out-of-bounds coordinate.

    ``max_pixels`` bounds the raster explicitly — the function (not
    caller discipline) is what keeps ``quicklook_sink``'s driver
    collect preview-sized; larger inputs must be aggregated/downsampled
    first (rollup.nn_downsample / tier_rollup are the intended
    reducers)."""
    from pyspark.sql import Window
    spark = per_key.sparkSession
    n_parts = partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (per_key.repartitionByRange(n_parts, F.col(key_col))
              .withColumn("_pid", F.spark_partition_id()))
    counts = {r["_pid"]: r["count"]
              for r in ranged.groupBy("_pid").count().collect()}
    total = sum(counts.values())
    if total > max_pixels:
        raise ValueError(
            f"rate_grid input has {total} keys > max_pixels={max_pixels}; "
            "downsample/aggregate before rendering a preview raster")
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    if not offsets:
        offsets = [(0, 0)]
    off_df = spark.createDataFrame(offsets, "_pid int, _offset long")
    local_rn = F.row_number().over(
        Window.partitionBy("_pid").orderBy(key_col)) - 1
    # the rank is selected once: y and x both read it, and a reused
    # windowed Column would be planned once per use
    rn = F.col("_rn")
    return (ranged.join(F.broadcast(off_df), "_pid")
            .select(key_col, value_col,
                    (F.col("_offset") + local_rn).alias("_rn"))
            .select(F.col(key_col),
                    (rn / width).cast("int").alias("y"),
                    F.pmod(rn, F.lit(width)).cast("int").alias("x"),
                    F.col(value_col).cast("double").alias("value")))


def closure_plot(closure_df: DataFrame, out_dir: str, thr: float,
                 iteration: int = 0, width: int = 16,
                 panel_rows: int = 7, panel_cols: int = 7,
                 max_loops: int = 98, pad: int = 2,
                 max_pixels: int = 1 << 20) -> dict:
    """Closure-loop small multiples: the graft of plot_closure.py:28-80.

    Input is :func:`~pyrate_spark.operators.corrections.closure_sums`
    output (url, loop_key, closure). One panel per loop; within a panel
    each url is one pixel, laid out by :func:`rate_grid`'s deterministic
    sorted-key row-major order (the reference's panel is the per-pixel
    closure raster of that loop). Colour: the symmetric diverging rate
    map bounded at +-thr*pi — the reference uses matplotlib Spectral
    with the same vmin/vmax (plot_closure.py:29,62); this runtime has
    no matplotlib, so the vendored colour-relief map + PNG encoder
    stand in (deterministic bytes, golden-hashable). 49 panels per
    figure, figures split exactly like the reference
    (``closure_loops_iteration_{i}_fig_{j}.png``).

    Scale split: per-(url, loop) class assignment is column algebra on
    the cluster; the collect is bounded by panels x panel pixels
    (``max_loops`` caps the loop count EXPLICITLY — total vs kept loop
    counts go in the returned meta, no silent truncation; a quicklook
    is by definition a small image).
    """
    os.makedirs(out_dir, exist_ok=True)
    bound = float(thr) * float(np.pi)
    loops_all = [r["loop_key"] for r in
                 (closure_df.select("loop_key").distinct()
                  .orderBy("loop_key").limit(max_loops + 1).collect())]
    n_total = closure_df.select("loop_key").distinct().count()
    loops = loops_all[:max_loops]
    loop_id = {k: i for i, k in enumerate(loops)}

    spark = closure_df.sparkSession
    urls = closure_df.select("url").distinct().withColumn(
        "value", F.lit(0.0))
    grid = rate_grid(urls, key_col="url", value_col="value", width=width,
                     max_pixels=max(1, max_pixels
                                    // max(1, len(loops)))).select(
        "url", "y", "x")
    lid_df = F.broadcast(spark.createDataFrame(
        [(k, i) for k, i in loop_id.items()], "loop_key string, lid int"))
    classed = (closure_df.join(lid_df, "loop_key")
               .join(grid, "url")
               .select("lid", "y", "x",
                       class_index_col("closure", -bound, bound)
                       .alias("cls")))
    rows = classed.collect()

    ph = max((r["y"] for r in rows), default=0) + 1
    pw = width
    breaks, rgba, _, _ = quicklook_colormap(-bound, bound, "rate")
    per_fig = panel_rows * panel_cols
    n_figs = max(1, -(-len(loops) // per_fig))
    fig_h = panel_rows * ph + (panel_rows + 1) * pad
    fig_w = panel_cols * pw + (panel_cols + 1) * pad
    figs = [np.zeros((fig_h, fig_w, 4), dtype=np.uint8)
            for _ in range(n_figs)]
    for r in rows:
        lid = r["lid"]
        fig_i, slot = divmod(lid, per_fig)
        p_r, p_c = divmod(slot, panel_cols)
        y0 = pad + p_r * (ph + pad)
        x0 = pad + p_c * (pw + pad)
        if r["cls"] is not None:
            figs[fig_i][y0 + r["y"], x0 + r["x"]] = np.round(
                rgba[r["cls"]]).astype(np.uint8)
    paths = []
    for j, img in enumerate(figs):
        p = os.path.join(
            out_dir, f"closure_loops_iteration_{iteration}_fig_{j}.png")
        write_png(img, p)
        paths.append(p)
    meta = {"n_loops_total": int(n_total), "n_loops_plotted": len(loops),
            "truncated": n_total > len(loops), "bound": bound,
            "panel_height": int(ph), "panel_width": int(pw),
            "figs": [os.path.basename(p) for p in paths]}
    with open(os.path.join(
            out_dir, f"closure_loops_iteration_{iteration}.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta
