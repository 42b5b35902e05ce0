"""Engine configuration.

Analog of the reference's validated params dict
(/root/reference/pyrate/configuration.py:172-324 and
pyrate/default_parameters.py) trimmed to the knobs the Spark engine
actually uses. Frozen dataclass so a config can key checkpoint manifests.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
import hashlib
import json


@dataclass(frozen=True)
class EngineConfig:
    # --- time-series inversion (reference: pyrate/core/timeseries.py) ---
    ts_method: int = 1          # 1 = Laplacian-smoothed, 2 = SVD (tsmethod)
    ts_pthr: int = 0            # min valid obs per key (TIME_SERIES_PTHRESH)
    sm_order: int = 2           # Laplacian order 1|2 (TIME_SERIES_SM_ORDER)
    sm_factor: float = -0.25    # log10 smoothing factor (TIME_SERIES_SM_FACTOR)

    # --- stacking (reference: pyrate/core/stack.py) ---
    nsig: int = 3               # residual-ratio threshold (LR_NSIG)
    pthr: int = 3               # min obs for stacking (LR_PTHRESH)
    maxsig: int = 2             # error mask threshold (LR_MAXSIG)
    velerror_nsig: int = 2      # error scaling (VELERROR_NSIG, constants.py:283)

    # --- temporal VCM weighting (reference: pyrate/core/covariance.py) ---
    # "identity" = unweighted; "pattern" = Biggs pattern x per-key sample
    # variance; "maxvar" = Biggs pattern x FFT-autocovariance maxvar
    # (covariance.py:65-196 temporal analog)
    vcm_mode: str = "identity"

    # --- temporal filter (reference: pyrate/core/aps.py:322-397) ---
    tlpf_cutoff_days: int = 30  # Gaussian cutoff, days (TLPF_CUTOFF)
    tlpf_pthr: int = 1          # min valid obs (TLPF_PTHR)

    # --- rollup tiers (reference multilook: pyrate/core/gdal_python.py:296-324) ---
    nan_thresh: float = 0.5     # bucket NULL iff null_fraction >= thresh
    tiers: tuple = ("1 hour", "1 day", "1 week")

    # --- pairwise observation network (reference: ifg network) ---
    max_pair_span_days: int = 90   # range-join cap on temporal baseline
    max_pairs_per_epoch: int = 3   # forward-pair fanout per snapshot

    # --- closure (reference: pyrate/core/phase_closure) ---
    max_loop_length: int = 4
    max_loop_redundancy: int = 2
    closure_thr: float = 0.5       # large_dev_thr in cycles of the value unit
    min_loops_per_ifg: int = 2     # drop gate 1 (closure_check.py:96-115)
    ifg_drop_thr: float = 0.5      # breach-fraction drop gate 2

    # --- execution ---
    # unread: grouped-map kernels run one frame per url partition
    # (spark.sql.shuffle.partitions). Kept, with its validation, only
    # because bench.py and perfbench/workloads.py pass salt_buckets=.
    salt_buckets: int = 64
    checkpoint_dir: str = ""    # per-partition checkpoint manifests; "" = off

    def __post_init__(self):
        """Range/enum validation mirroring the reference's typed
        parameter table (pyrate/default_parameters.py MinValue/MaxValue/
        PossibleValues, enforced by configuration.py:47-69
        validate_parameter_value) so bad configs are rejected at
        construction, before any job is planned. Engine extensions
        beyond the reference ranges are noted inline."""
        _validate(self)

    def params_hash(self) -> str:
        """Stable hash keying checkpoint manifests (analog of the
        reference's parameter-keyed npy reuse, orbital.py:392-407)."""
        return hashlib.sha256(
            json.dumps(asdict(self), sort_keys=True, default=str).encode()
        ).hexdigest()[:16]


# (name, min, max, enum) per pyrate/default_parameters.py; None = no
# bound. ts_pthr min is 0 here (0 = gate off, engine extension; the
# reference's ts_pthr range is [1, 1000]).
_RANGES = (
    ("ts_method", None, None, (1, 2)),            # tsmethod
    ("ts_pthr", 0, 1000, None),                   # ts_pthr (0 = off)
    ("sm_order", None, None, (1, 2)),             # smorder
    ("sm_factor", -5.0, 0.0, None),               # smfactor
    # nsig engine extension: no upper bound (a huge nsig disables the
    # iterative drop loop, used by tests/VCM wiring; reference is 1-10)
    ("nsig", 1, None, None),                      # nsig
    ("pthr", 1, None, None),                      # pthr
    ("maxsig", 0, 1000, None),                    # maxsig
    ("velerror_nsig", 1, None, None),             # velerror_nsig
    ("vcm_mode", None, None,
     ("identity", "pattern", "maxvar")),          # engine knob
    ("tlpf_cutoff_days", 1, None, None),          # tlpfcutoff
    ("tlpf_pthr", 1, None, None),                 # tlpfpthr
    ("nan_thresh", 0.0, 1.0, None),               # noDataAveragingThreshold
    ("max_pair_span_days", 1, None, None),        # engine knob
    ("max_pairs_per_epoch", 1, None, None),       # engine knob
    ("max_loop_length", 3, None, None),           # max_loop_length
    ("max_loop_redundancy", 1, None, None),       # max_loop_redundancy
    ("closure_thr", 0.01, None, None),            # closure_thr
    ("min_loops_per_ifg", 0, None, None),         # 0 = gate off (engine
                                                  # ext.; reference min 1)
    ("ifg_drop_thr", 0.01, 1.0, None),            # ifg_drop_thr
    ("salt_buckets", 1, None, None),              # engine knob (unread)
)


def _validate(cfg: "EngineConfig") -> None:
    for name, lo, hi, enum in _RANGES:
        value = getattr(cfg, name)
        if lo is not None and value < lo:
            raise ValueError(
                f"Invalid value for {name} supplied: {value}. Provide a "
                f"value greater than or equal to {lo}.")
        if hi is not None and value > hi:
            raise ValueError(
                f"Invalid value for {name} supplied: {value}. Provide a "
                f"value less than or equal to {hi}.")
        if enum is not None and value not in enum:
            raise ValueError(
                f"Invalid value for {name} supplied: {value}. Provide "
                f"one of these values: {list(enum)}.")
    if not cfg.tiers or not all(isinstance(t, str) and t for t in cfg.tiers):
        raise ValueError(
            f"Invalid value for tiers supplied: {cfg.tiers!r}. Provide a "
            "non-empty tuple of window strings like ('1 hour', '1 day').")


DEFAULT = EngineConfig()
