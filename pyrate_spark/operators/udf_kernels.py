"""Worker-side UDF bodies — deliberately free of pyspark imports.

cloudpickle ships grouped-map closures by value but their referenced
globals by module; if those globals live in a module that imports
pyspark.sql, every fresh python worker pays the whole pyspark import
chain on its first task (measured: ~33 s cold-start storm for 64
workers on local[32] vs 0.8 s warm). This module's import closure is
numpy + pandas + pyrate_spark.kernels only, which the Arrow worker
runtime has effectively already loaded.

Each ``make_*`` factory binds config scalars into a closure and returns
a pandas-DataFrame -> pandas-DataFrame function over a frame of many
keys (``grouped.keyed_apply`` runs it per partition, and per hot key);
``make_timeseries_rates_arrow_fn`` returns a ``mapInArrow`` body over
one row per key.
Determinism: every kernel sorts a key's rows by (ts_first, ts_second)
— or the single ts — before computing, so results are identical across
partitionings and cluster sizes (the reference's explicit file-list
sorts, closure_check.py:92,184; O4 in SURVEY.md §2.8).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyrate_spark.kernels.epochs import SECONDS_PER_YEAR, epochs_from_pairs
from pyrate_spark.kernels.linalg import linregress_segments
from pyrate_spark.kernels.mst import mst_select_pixel, mst_stats
from pyrate_spark.kernels.stack import stack_rate_pixel
from pyrate_spark.kernels.tempfilter import temporal_high_pass
from pyrate_spark.kernels.timeseries import time_series_pixel
from pyrate_spark.kernels.vcm import get_vcmt


def group_slices(pdf: pd.DataFrame, key: str = "url"):
    """(key, row-index array) per key via one argsort — cheaper than
    pandas groupby for many keys per frame. A null key is a key: its
    rows come first (``None`` does not order against strings)."""
    keys = pdf[key].to_numpy()
    null = pd.isna(keys)
    named = np.flatnonzero(~null)
    order = np.concatenate((np.flatnonzero(null),
                            named[np.argsort(keys[named], kind="stable")]))
    sorted_keys = keys[order]
    boundaries = np.flatnonzero(
        np.concatenate(([True], sorted_keys[1:] != sorted_keys[:-1])))
    for i, start in enumerate(boundaries):
        stop = boundaries[i + 1] if i + 1 < len(boundaries) else len(order)
        yield sorted_keys[start], order[start:stop]


def ts_seconds(col: pd.Series) -> np.ndarray:
    return col.to_numpy().astype("datetime64[s]").astype(np.int64)


def _vcmt_for(vcm_mode: str, phase, ifirst, isecond, maxvar=None):
    """identity (default), Biggs pattern x per-key sample variance
    ('pattern'), or Biggs pattern x the precomputed FFT-autocovariance
    maxvar column ('maxvar', covariance.py:312-343 — join maxvar_full
    output onto the pairs frame first). 'maxvar' accepts the PER-ROW
    vector (the reference's per-ifg sigma_i*sigma_j weighting); a
    scalar broadcasts; non-finite entries fall back to 1.0."""
    n = len(phase)
    if vcm_mode == "maxvar":
        if maxvar is None:
            mv = np.ones(n)
        else:
            mv = np.asarray(maxvar, dtype=np.float64)
            if mv.ndim == 0:
                mv = np.full(n, float(mv))
            mv = np.where(np.isfinite(mv), mv, 1.0)
        return get_vcmt(ifirst, isecond, np.maximum(mv, 1e-9))
    if vcm_mode == "pattern":
        finite = np.isfinite(phase)
        mv = float(np.var(phase[finite], ddof=1)) if finite.sum() > 1 else 1.0
        mv = max(mv, 1e-9)
        return get_vcmt(ifirst, isecond, np.full(n, mv))
    return np.eye(n)


def _pair_arrays(pdf: pd.DataFrame):
    first_all = ts_seconds(pdf["ts_first"])
    second_all = ts_seconds(pdf["ts_second"])
    phase_all = pdf["delta_value"].to_numpy(dtype=np.float64)
    weight_all = (pdf["nan_fraction"].to_numpy(dtype=np.float64)
                  if "nan_fraction" in pdf else np.zeros(len(pdf)))
    return first_all, second_all, phase_all, weight_all


def _maxvar_array(pdf: pd.DataFrame):
    """Optional per-row maxvar column (vcm_mode='maxvar' path)."""
    return (pdf["maxvar"].to_numpy(dtype=np.float64)
            if "maxvar" in pdf.columns else None)


def _sorted_key_rows(first_all, second_all, idx):
    """Deterministic per-key row order: (ts_first, ts_second)."""
    sub = np.lexsort((second_all[idx], first_all[idx]))
    return idx[sub]


def _prep_key(first_all, second_all, phase_all, weight_all, idx,
              use_mst):
    """Per-key inversion prologue: deterministic sort, epoch build,
    optional per-key MST selection (timeseries.py:49). Returns the
    state tuple consumed by ``_solve_key`` — or None when the key has
    < 2 epochs."""
    idx = _sorted_key_rows(first_all, second_all, idx)
    fs, ss = first_all[idx], second_all[idx]
    phase, weight = phase_all[idx], weight_all[idx]
    dates, spans, ifirst, isecond = epochs_from_pairs(fs, ss)
    if len(dates) < 2:
        return None
    if use_mst:
        sel = mst_select_pixel(phase, fs.tolist(), ss.tolist(),
                               weight.tolist())
        _, is_tree, _ = mst_stats(fs.tolist(), ss.tolist(),
                                  weight.tolist())
        interp = 0 if is_tree else 1   # timeseries.py:49
    else:
        sel = ~np.isnan(phase)
        interp = 0
    return idx, phase, dates, spans, ifirst, isecond, sel, interp


def _solve_key(state, mv_all, method, pthr, smorder, smfactor,
               vcm_mode, known_full_rank=False):
    """Per-key inversion solve: VCM weighting + SVD/Laplacian solve.
    Returns (dates, spans, tsincr, tscuml) — NaN series on singular
    systems. ``known_full_rank``: the batched repair already proved
    this selection's structural rank (skip the pixel's re-check)."""
    idx, phase, dates, spans, ifirst, isecond, sel, interp = state
    vcmt = _vcmt_for(vcm_mode, phase, ifirst, isecond,
                     mv_all[idx] if mv_all is not None else None)
    try:
        _, tsincr, tscuml = time_series_pixel(
            phase, ifirst, isecond, spans, method=method,
            pthresh=pthr, smorder=smorder, smfactor_log10=smfactor,
            vcmt=vcmt, mst_sel=sel, interp=interp,
            known_full_rank=known_full_rank)
    except np.linalg.LinAlgError:
        nv = len(dates) - 1
        tsincr = tscuml = np.full(nv, np.nan, dtype=np.float32)
    return dates, spans, tsincr, tscuml


def _batched_repair(states, pthr):
    """Run the rank-repair loop (timeseries.py:160-199 semantics, the
    same primitives ``time_series_pixel`` uses internally) as BATCHED
    ROUNDS across every key in the Arrow batch: round r computes the
    pivoted-Cholesky orders of every still-deficient key in one
    ``gram_pivot_order_batched`` call (grouped by matrix size), applies
    the row removals, re-checks the exact structural rank, and carries
    survivors into round r+1. The batched pivot loop has no
    cross-element reductions, so each key's pivot trajectory is
    bit-identical to the scalar computation regardless of batch
    composition (O4 determinism); equivalence with the pixel-internal
    scalar repair is pinned by tests/test_fused_rates.py.

    Returns ({state_index: repaired_row_index_array}, full_rank_known:
    set of state indices whose final selection PROVED full structural
    rank with > 1 rows — for these the solve can skip the pixel's
    re-check outright). A repaired key is then solved with ``mst_sel``
    = that selection and ``pthresh=0``: the pixel re-runs the exact
    structural check (unless full_rank_known), sees full rank (or <= 1
    rows -> NaN), and never enters its own scalar repair. The pthresh
    gate was already applied here on the ORIGINAL selection, matching
    the pixel's entry check."""
    from pyrate_spark.kernels.linalg import gram_pivot_order_batched
    from pyrate_spark.kernels.timeseries import (_rank_structure,
                                                 design_matrix)
    work: dict[int, list] = {}
    full_known: set[int] = set()
    for i, st in enumerate(states):
        if st is None:
            continue
        _, phase, _, spans, ifirst, isecond, selmask, interp = st
        if interp != 0:
            continue
        nvelpar = len(spans) - 1
        sel_idx = np.flatnonzero(selmask)
        if len(sel_idx) < max(pthr, 1) or len(sel_idx) <= 1:
            continue   # pixel early-outs identically on the original sel
        _, rank, full = _rank_structure(ifirst[sel_idx],
                                        isecond[sel_idx], nvelpar)
        if full:
            full_known.add(i)   # unrepaired AND proven full rank
            continue
        work[i] = [sel_idx, rank, nvelpar]

    def _b0(i):
        # rebuilt per use (~0.06 ms) rather than held across rounds:
        # keeps the driver's memory bound at O(selected-row indices)
        # per deficient key, independent of the frame's url count
        st = states[i]
        spans, ifirst, isecond = st[3], st[4], st[5]
        return design_matrix(np.asarray(ifirst), np.asarray(isecond),
                             np.diff(np.asarray(spans,
                                                dtype=np.float64)),
                             len(spans) - 1)

    repaired: dict[int, np.ndarray] = {}
    while work:
        # ONE padded stack per round instead of one stack per distinct
        # matrix size (r8): the zero-padded columns of a Gram matrix
        # have zero diagonal residual and zero cross terms, so the
        # greedy pivot picks every real column first in the EXACT
        # per-key sequence (validated bit-equal over 400 random
        # incidence grams) — and the vectorized core amortises its
        # python per-iteration overhead over the whole round's keys
        # rather than size-fragmented batches of 1-5.
        # SIZE-HOMOGENEOUS chunks: padding costs (chunk_max_nvel)^2 per
        # key, so one epoch-rich key (nvel ~750) chunked with
        # tier-shaped keys (nvel ~40) would inflate every chunk-mate's
        # Gram 350x AND push the whole padded stack onto the scalar
        # fallback (measured: a single near-hot key turned its
        # partition into a 10 s straggler, 123 scalar 740x740 pivots
        # for one round). Sort by nvel and BREAK a chunk when the next
        # key's nvel exceeds 1.25x the chunk's smallest (bounded
        # padding waste) or at 128 keys (bounded held memory); outsized
        # keys end up alone and take the same scalar path they always
        # did. Per-key pivot trajectories are chunk-composition-
        # invariant, so none of this can change results.
        idxs = sorted(work, key=lambda i: (work[i][2], i))
        chunks = []
        cur = []
        for i in idxs:
            if cur and (len(cur) == 128
                        or work[i][2] > 1.25 * work[cur[0]][2]):
                chunks.append(cur)
                cur = []
            cur.append(i)
        if cur:
            chunks.append(cur)
        for chunk in chunks:
            bs = [_b0(i)[work[i][0]] for i in chunk]
            nmax = max(b.shape[1] for b in bs)
            padded = np.zeros((len(bs), nmax, nmax))
            for j, b in enumerate(bs):
                n = b.shape[1]
                padded[j, :n, :n] = b.T @ b
            pv = gram_pivot_order_batched(padded)
            for j, i in enumerate(chunk):
                sel_idx, rank, nvel = work[i]
                licols = pv[j][rank:nvel]
                rmrow = np.unique(
                    np.where(bs[j][:, licols] != 0)[0])
                if len(rmrow) == 0:    # defensive: no progress -> bail
                    repaired[i] = sel_idx
                    del work[i]
                    continue
                sel_idx = np.delete(sel_idx, rmrow)
                if len(sel_idx) <= 1:  # pixel returns NaN on this
                    repaired[i] = sel_idx
                    del work[i]
                    continue
                st = states[i]
                _, rank, full = _rank_structure(st[4][sel_idx],
                                                st[5][sel_idx], nvel)
                if full:
                    repaired[i] = sel_idx
                    full_known.add(i)
                    del work[i]
                else:
                    work[i] = [sel_idx, rank, nvel]
    return repaired, full_known


def _inverted_slices(groups, first_all, second_all, phase_all,
                     weight_all, mv_all, method, pthr, smorder,
                     smfactor, use_mst, vcm_mode):
    """Array-form inversion inner loop: ``groups`` is a sequence of
    (key, row-index array) into the flat observation arrays — however
    the caller obtained them (pandas frame + group_slices, or Arrow
    list offsets). Yields (key, dates, spans, tsincr, tscuml)."""
    states = [_prep_key(first_all, second_all, phase_all, weight_all,
                        idx, use_mst) for _, idx in groups]
    repaired, full_known = _batched_repair(states, pthr)
    for i, ((url, _), st) in enumerate(zip(groups, states)):
        if st is None:
            continue
        if i in repaired:
            idx, phase, dates, spans, ifirst, isecond, _, interp = st
            newmask = np.zeros(len(phase), dtype=bool)
            newmask[repaired[i]] = True
            st = (idx, phase, dates, spans, ifirst, isecond,
                  newmask, interp)
            yield (url, *_solve_key(st, mv_all, method, 0, smorder,
                                    smfactor, vcm_mode,
                                    known_full_rank=i in full_known))
        else:
            yield (url, *_solve_key(st, mv_all, method, pthr, smorder,
                                    smfactor, vcm_mode,
                                    known_full_rank=i in full_known))


def _inverted_keys(pdf, method, pthr, smorder, smfactor, use_mst,
                   vcm_mode):
    """Pandas-frame form of the inversion inner loop, used by
    ``make_timeseries_fn``. The fused Arrow list-form
    ``make_timeseries_rates_arrow_fn`` runs the same body
    (``_inverted_slices``), so the two cannot drift —
    tests/test_fused_rates.py pins fused == two-stage bit-equality.
    Yields (url, dates, spans, tsincr, tscuml) per key. The rank-repair
    — 65% of the stage at bench shape when run per key — is hoisted
    into batched rounds (``_batched_repair``) before the per-key
    solves."""
    first_all, second_all, phase_all, weight_all = _pair_arrays(pdf)
    mv_all = _maxvar_array(pdf)
    groups = list(group_slices(pdf))
    yield from _inverted_slices(groups, first_all, second_all,
                                phase_all, weight_all, mv_all, method,
                                pthr, smorder, smfactor, use_mst,
                                vcm_mode)


def make_timeseries_fn(method: int, pthr: int, smorder: int,
                       smfactor: float, use_mst: bool, vcm_mode: str):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # accumulate raw numpy chunks; ONE output DataFrame at the
        # end (per-key pd.DataFrame + pd.concat was the dominant
        # allocation churn under 32 concurrent workers)
        urls, eids, etss, vels, incrs, cumls = [], [], [], [], [], []
        for url, dates, spans, tsincr, tscuml in _inverted_keys(
                pdf, method, pthr, smorder, smfactor, use_mst,
                vcm_mode):
            span_d = np.diff(spans).astype(np.float32)
            with np.errstate(divide="ignore", invalid="ignore"):
                tsvel = np.where(span_d != 0, tsincr / span_d, np.nan)
            # zero epoch emitted too: np.insert(tscuml, 0, 0) analog
            # (timeseries.py:429)
            nepoch = len(dates)
            urls.append(np.repeat(url, nepoch))
            eids.append(np.arange(nepoch, dtype=np.int32))
            etss.append(dates)
            vels.append(np.concatenate(([np.nan], tsvel)))
            incrs.append(np.concatenate(([np.nan], tsincr)))
            cumls.append(np.concatenate(([0.0], tscuml)))
        if not urls:
            return pd.DataFrame({
                "url": pd.Series(dtype=object),
                "epoch_id": pd.Series(dtype=np.int32),
                "epoch_ts": pd.Series(dtype="datetime64[ns]"),
                "tsvel": pd.Series(dtype=np.float32),
                "tsincr": pd.Series(dtype=np.float32),
                "tscuml": pd.Series(dtype=np.float32)})
        return pd.DataFrame({
            "url": np.concatenate(urls),
            "epoch_id": np.concatenate(eids),
            "epoch_ts": np.concatenate(etss).astype("datetime64[s]"),
            "tsvel": np.concatenate(vels).astype(np.float32),
            "tsincr": np.concatenate(incrs).astype(np.float32),
            "tscuml": np.concatenate(cumls).astype(np.float32),
        })
    return fn


def _rates_columns(gen, err_scale):
    """Fused-rates epilogue: consume the inversion generator, run the
    composition-invariant segment regression (linregress_segments:
    per-key sums never depend on which other keys share the frame),
    return (keys, columns)."""
    urls, ys, ts_axes = [], [], []
    for url, dates, _spans, _tsincr, tscuml in gen:
        urls.append(url)
        # float32 round-trip == the TS_SCHEMA stage boundary
        ys.append(np.concatenate(([0.0], tscuml))
                  .astype(np.float32).astype(np.float64))
        ts_axes.append(dates.astype(np.float64))
    if not urls:
        return None, None
    starts = np.cumsum([0] + [len(t) for t in ts_axes[:-1]])
    t_cat = np.concatenate(
        [(t - t[0]) / SECONDS_PER_YEAR for t in ts_axes])
    y_cat = np.concatenate(ys)
    s, i_, r2, se, ns = linregress_segments(t_cat, y_cat, starts)
    return urls, {"rate": s, "intercept": i_, "rsquared": r2,
                  "error": se * err_scale, "samples": ns}


def make_timeseries_rates_arrow_fn(method: int, pthr: int, smorder: int,
                                   smfactor: float, use_mst: bool,
                                   vcm_mode: str, err_scale: float,
                                   has_weight: bool, has_maxvar: bool):
    """Fused pairs -> linear rates over the GROUPED-LIST Arrow layout:
    the time-series inversion and the cumulative-series regression in
    ONE pass, so the ~50x-larger per-epoch intermediate never crosses
    the Arrow/shuffle boundary (pipeline fusion of timeseries_per_url +
    linear_rate_per_url; reference runs them as separate steps,
    timeseries.py:111-157 then 292-379).

    The JVM side aggregates each key to ONE row
    ``(url, sort_array(collect_list(struct(t1, t2, dv[, w][, mv]))))``
    and this ``mapInArrow`` body unwraps the list column zero-copy (list
    offsets -> per-key slices over the flat struct children, the
    encode_tier pattern). The boundary then carries each url string
    ONCE instead of per pair row (~75x less string traffic at bench
    shape) and no per-row timestamps need datetime conversion.

    Bit-exactness contract (tests/test_fused_rates.py, fused ==
    two-stage): the JVM ``sort_array`` orders each key's rows by
    (t1, t2) — unique per key by the pair-network contract, so this is
    exactly the kernel's lexsort order, and ``_prep_key`` re-sorts
    anyway (a stable no-op here). The inversion body is
    ``make_timeseries_fn``'s (``_inverted_slices``), and the cumulative
    series is quantized to float32 before the regression exactly as
    the TS_SCHEMA stage boundary would (``_rates_columns``)."""

    def fn(batches):
        import pyarrow as pa
        for rb in batches:
            if rb.num_rows == 0:
                continue
            urls_arr = rb.column(0)
            lst = rb.column(1)
            if isinstance(lst, pa.ChunkedArray):
                lst = lst.combine_chunks()
            offs = np.asarray(lst.offsets)
            flat = lst.flatten()
            first_all = flat.field("t1").to_numpy(
                zero_copy_only=False).astype(np.int64, copy=False)
            second_all = flat.field("t2").to_numpy(
                zero_copy_only=False).astype(np.int64, copy=False)
            phase_all = flat.field("dv").to_numpy(
                zero_copy_only=False).astype(np.float64, copy=False)
            if has_weight:
                weight_all = flat.field("w").to_numpy(
                    zero_copy_only=False).astype(np.float64, copy=False)
            else:
                weight_all = np.zeros(len(phase_all))
            if has_maxvar:
                mv_all = flat.field("mv").to_numpy(
                    zero_copy_only=False).astype(np.float64, copy=False)
            else:
                mv_all = None
            starts = offs - offs[0]
            groups = [(k, np.arange(starts[k], starts[k + 1]))
                      for k in range(rb.num_rows)]
            gen = _inverted_slices(groups, first_all, second_all,
                                   phase_all, weight_all, mv_all,
                                   method, pthr, smorder, smfactor,
                                   use_mst, vcm_mode)
            keys, cols = _rates_columns(gen, err_scale)
            if keys is None:
                continue
            # from_pandas=True: NaN -> SQL NULL, exactly what the
            # pandas-DataFrame return path of the other kernels produces
            yield pa.RecordBatch.from_arrays(
                [urls_arr.take(pa.array(keys, pa.int32())),
                 pa.array(cols["rate"], pa.float64(), from_pandas=True),
                 pa.array(cols["intercept"], pa.float64(),
                          from_pandas=True),
                 pa.array(cols["rsquared"], pa.float64(),
                          from_pandas=True),
                 pa.array(cols["error"], pa.float64(), from_pandas=True),
                 pa.array(cols["samples"], pa.float64(),
                          from_pandas=True)],
                names=["url", "rate", "intercept", "rsquared",
                       "error", "samples"])
    return fn


def make_stack_fn(nsig: float, pthr: int, nsig_scale: float,
                  use_mst: bool, vcm_mode: str):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        first_all, second_all, phase_all, weight_all = _pair_arrays(pdf)
        mv_all = _maxvar_array(pdf)
        span_all = pdf["time_span"].to_numpy(dtype=np.float64)
        for url, idx in group_slices(pdf):
            idx = _sorted_key_rows(first_all, second_all, idx)
            phase = phase_all[idx]
            span = span_all[idx]
            fs, ss, weight = first_all[idx], second_all[idx], weight_all[idx]
            if use_mst:
                sel = mst_select_pixel(phase, fs.tolist(), ss.tolist(),
                                       weight.tolist())
            else:
                sel = ~np.isnan(phase)
            sel = sel & ~np.isnan(phase)        # stack.py:185
            obs = np.where(np.isnan(phase), 0.0, phase)   # stack.py:179
            _, _, ifirst, isecond = epochs_from_pairs(fs, ss)
            vcmt = _vcmt_for(vcm_mode, phase, ifirst, isecond,
                             mv_all[idx] if mv_all is not None else None)
            try:
                rate, err, samp = stack_rate_pixel(
                    obs, sel, vcmt, span[None, :], nsig, pthr)
            except np.linalg.LinAlgError:
                rate, err, samp = np.nan, np.nan, int(sel.sum())
            rows.append((url, rate,
                         err * nsig_scale if np.isfinite(err) else err,
                         samp))
        return pd.DataFrame(rows, columns=["url", "rate", "error", "samples"])
    return fn


def make_linear_rate_fn(err_scale: float, value_col: str, ts_col: str):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ts_all = ts_seconds(pdf[ts_col]).astype(np.float64)
        y_all = pdf[value_col].to_numpy(dtype=np.float64)
        slices = list(group_slices(pdf))
        if not slices:
            return pd.DataFrame(columns=["url", "rate", "intercept",
                                         "rsquared", "error", "samples"])
        # composition-invariant segment regression (linregress_segments)
        urls, ts_parts, y_parts = [], [], []
        for url, idx in slices:
            order = np.argsort(ts_all[idx], kind="stable")
            t = ts_all[idx][order]
            ts_parts.append((t - t[0]) / SECONDS_PER_YEAR)
            y_parts.append(y_all[idx][order])
            urls.append(url)
        starts = np.cumsum([0] + [len(t) for t in ts_parts[:-1]])
        s, i_, r2, se, ns = linregress_segments(
            np.concatenate(ts_parts), np.concatenate(y_parts), starts)
        return pd.DataFrame({
            "url": urls, "rate": s, "intercept": i_, "rsquared": r2,
            "error": se * err_scale, "samples": ns})
    return fn


def make_temporal_hp_fn(cutoff_days: int, pthr: int, value_col: str,
                        ts_col: str):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        urls, tss, hps, lps = [], [], [], []
        ts_all = ts_seconds(pdf[ts_col])
        v_all = pdf[value_col].to_numpy(dtype=np.float64)
        for url, idx in group_slices(pdf):
            order = np.argsort(ts_all[idx], kind="stable")
            t = ts_all[idx][order]
            v = v_all[idx][order]
            spans = (t - t[0]) / SECONDS_PER_YEAR
            spans_full = np.concatenate(
                (spans, [spans[-1] + (spans[-1] - spans[-2]
                                      if len(spans) > 1 else 1.0)]))
            hp, lp = temporal_high_pass(v, spans_full, cutoff_days, pthr,
                                        dtype=np.float64)
            urls.append(np.repeat(url, len(t)))
            tss.append(t)
            hps.append(hp)
            lps.append(lp)
        if not urls:
            return pd.DataFrame({
                "url": pd.Series(dtype=object),
                "epoch_ts": pd.Series(dtype="datetime64[ns]"),
                "value_hp": pd.Series(dtype=np.float64),
                "value_lp": pd.Series(dtype=np.float64)})
        return pd.DataFrame({
            "url": np.concatenate(urls),
            "epoch_ts": np.concatenate(tss).astype("datetime64[s]"),
            "value_hp": np.concatenate(hps),
            "value_lp": np.concatenate(lps).astype(np.float64)})
    return fn


def make_orbnet_fn(use_mst: bool):
    """T16 network orbital fit (orbital.py:303-428): estimate one
    nuisance parameter per EPOCH jointly from the key's whole pair
    network (the reference fits per-epoch polynomial coefficients from
    the MST-selected ifgs and subtracts the forward model from every
    ifg; the per-key graft's per-epoch term is the offset o_e with
    o_0 pinned to 0 — the reference's dropped-first-epoch convention,
    orbital.py:334-341). Model: delta(i,j) ~ o_j - o_i, solved by
    min-norm lstsq over the fit subset (MST or all valid), then
    corrected = delta - (o_j - o_i) for EVERY pair."""
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        first_all, second_all, phase_all, weight_all = _pair_arrays(pdf)
        corr = np.full(len(pdf), np.nan)
        o_first = np.full(len(pdf), np.nan)
        o_second = np.full(len(pdf), np.nan)
        for url, idx in group_slices(pdf):
            idx = _sorted_key_rows(first_all, second_all, idx)
            fs, ss = first_all[idx], second_all[idx]
            phase, weight = phase_all[idx], weight_all[idx]
            dates, spans, ifirst, isecond = epochs_from_pairs(fs, ss)
            nep = len(dates)
            if nep < 2:
                continue
            if use_mst:
                sel = mst_select_pixel(phase, fs.tolist(), ss.tolist(),
                                       weight.tolist())
            else:
                sel = ~np.isnan(phase)
            B = np.zeros((len(idx), nep - 1))
            for k in range(len(idx)):
                if isecond[k] > 0:
                    B[k, isecond[k] - 1] += 1.0
                if ifirst[k] > 0:
                    B[k, ifirst[k] - 1] -= 1.0
            if sel.sum() == 0:
                continue
            coef = np.linalg.lstsq(B[sel], phase[sel], rcond=None)[0]
            o = np.concatenate(([0.0], coef))
            fit = B @ coef
            corr[idx] = phase - fit
            o_first[idx] = o[ifirst]
            o_second[idx] = o[isecond]
        out = pdf[["url", "ts_first", "ts_second"]].copy()
        out["delta_corrected"] = corr
        out["o_first"] = o_first
        out["o_second"] = o_second
        return out
    return fn


def make_mst_fn():
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        first_all, second_all, phase_all, weight_all = _pair_arrays(pdf)
        in_mst = np.zeros(len(pdf), dtype=bool)
        for url, idx in group_slices(pdf):
            idx = _sorted_key_rows(first_all, second_all, idx)
            sel = mst_select_pixel(
                phase_all[idx], first_all[idx].tolist(),
                second_all[idx].tolist(), weight_all[idx].tolist())
            in_mst[idx] = sel
        out = pdf[["url", "ts_first", "ts_second", "delta_value",
                   "time_span", "nan_fraction"]].copy()
        out["in_mst"] = in_mst
        return out
    return fn
