"""Z-order (Morton) clustering for multi-dimensional file skipping.

Partition pruning (the tier store's ``bucket_date`` layout,
manifest.py's partition-pinned manifests) answers ONE-dimensional
predicates at the directory level.  The next thing a lakehouse
deployment reaches for — Iceberg's ``rewrite_data_files(strategy =>
'sort', sort_order => 'zorder(a, b)')``, Delta's ``OPTIMIZE ... ZORDER
BY`` — is WITHIN-partition clustering so that parquet footer min/max
stats prune files for predicates on EITHER dimension.  A file sorted by
``a`` alone has tight ``a`` envelopes but each file spans the whole
``b`` domain: a ``b`` predicate skips nothing.  Interleaving the bits of
(a, b) into one sort key (Morton order) bounds every contiguous key
range inside a small axis-aligned box, so every file's (min, max)
envelope is tight on BOTH dimensions.

Everything here is Catalyst-only integer arithmetic (shift/and/or — no
UDF, no Python in the row path), deterministic, and engine-portable:
the DuckDB oracle reproduces ``zvalue`` bit-for-bit with the same mask
cascade (entry_queries.SQL_ZORDER_KEY).

Scale shape: the z-key is one cheap projected column; clustering a
partition is ``repartitionByRange(z)`` + ``sortWithinPartitions(z)`` —
exactly one shuffle sized by the partition being rewritten (a compaction
pass, amortized), after which every range scan with predicates on either
dimension reads ``O(result)`` files instead of ``O(partition)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Bit-spread mask cascade: places the 16 low bits of x at even positions
# of a 32-bit word (the classic "Interleave bits by Binary Magic Numbers"
# technique, public domain — see Stanford Bit Twiddling Hacks).
_SPREAD_STEPS: list[tuple[int, int]] = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]

MAX_BITS = 16  # per dimension; z fits comfortably in a signed 64-bit long


def _spread16(x: Column) -> Column:
    """Spread the 16 low bits of a non-negative long to even bit positions."""
    for shift, mask in _SPREAD_STEPS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zvalue(a: Column, b: Column, bits: int = MAX_BITS) -> Column:
    """Morton-interleave two quantized dimensions into one sort key.

    ``a`` and ``b`` must be non-negative integers < 2**bits (bits <= 16);
    out-of-domain inputs fail fast with a raise_error projection rather
    than silently aliasing distant keys.  ``a`` occupies even bit
    positions (least significant), ``b`` odd — z = spread(a) | spread(b)<<1.
    """
    if not (1 <= bits <= MAX_BITS):
        raise ValueError(f"bits must be in [1, {MAX_BITS}], got {bits}")
    bound = F.lit(1 << bits)
    al, bl = a.cast("long"), b.cast("long")
    guard = F.when(
        (al < 0) | (al >= bound) | (bl < 0) | (bl >= bound),
        F.raise_error(
            F.format_string(
                "zvalue: input out of [0, %d): a=%d b=%d", bound, al, bl
            )
        ).cast("long"),
    )
    z = _spread16(al).bitwiseOR(F.shiftleft(_spread16(bl), 1))
    return guard.otherwise(z)


def quantize(c: Column, lo: Column | float, hi: Column | float,
             bits: int = MAX_BITS) -> Column:
    """Linear quantization of a numeric column to [0, 2**bits) given its
    domain [lo, hi] (inclusive).  lo/hi may be literals or broadcast-scalar
    columns (compute them once with a scalar agg; do NOT put a per-row
    subquery here).  Values are clamped, so a slightly stale domain still
    lands in-range (a stale domain only loosens envelopes, never corrupts)."""
    n = F.lit((1 << bits) - 1)
    lo_c = lo if isinstance(lo, Column) else F.lit(float(lo))
    hi_c = hi if isinstance(hi, Column) else F.lit(float(hi))
    span = F.when(hi_c > lo_c, hi_c - lo_c).otherwise(F.lit(1.0))
    d = c.cast("double")
    q = F.floor((d - lo_c) / span * (n + F.lit(1))).cast("long")
    # NULL/NaN propagate (greatest/least SKIP nulls, which would silently
    # alias missing data into the top bucket and pollute its envelope);
    # a NULL z-key then sorts NULLS FIRST into its own leading slice
    return F.when(
        d.isNull() | F.isnan(d), F.lit(None).cast("long")
    ).otherwise(F.greatest(F.lit(0), F.least(n.cast("long"), q)))


def cluster_zorder(
    df: DataFrame,
    a_col: str,
    b_col: str,
    bits: int = MAX_BITS,
    n_files: int | None = None,
    z_col: str = "_z",
) -> DataFrame:
    """Return ``df`` range-clustered by the z-key of two ALREADY-QUANTIZED
    integer columns: one ``repartitionByRange`` shuffle + an in-partition
    sort, so a subsequent ``.write.parquet`` emits one file per z range
    with tight footer min/max on both ``a_col`` and ``b_col``.

    This is the compaction-pass primitive: run it per storage partition
    (e.g. per bucket_date) — the shuffle is sized by that partition alone.
    """
    z = zvalue(F.col(a_col), F.col(b_col), bits).alias(z_col)
    out = df.select("*", z)
    if n_files:
        out = out.repartitionByRange(n_files, F.col(z_col))
    else:
        out = out.repartitionByRange(F.col(z_col))
    return out.sortWithinPartitions(z_col)


def file_envelopes(path: str, cols: list[str]):
    """Per-parquet-file (min, max) footer stats for ``cols`` — the same
    numbers a scan planner prunes with.  Returns a pandas DataFrame
    (file, <col>_min, <col>_max).  Driver-side metadata read: one footer
    per file, no row data — cheap even for large stores."""
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    rows = []
    for root, _dirs, files in os.walk(path):
        for fname in sorted(files):
            if not fname.endswith(".parquet"):
                continue
            fpath = os.path.join(root, fname)
            md = pq.ParquetFile(fpath).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            rec: dict = {"file": os.path.relpath(fpath, path)}
            for c in cols:
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx[c]).statistics
                    if st is not None and st.has_min_max:
                        mins.append(st.min)
                        maxs.append(st.max)
                rec[f"{c}_min"] = min(mins) if mins else None
                rec[f"{c}_max"] = max(maxs) if maxs else None
            rows.append(rec)
    return pd.DataFrame(rows)


def skipping_fraction(envelopes, box: dict[str, tuple]) -> float:
    """Fraction of files a box predicate skips, judged exactly as a
    min/max pruner would: a file survives only if its envelope overlaps
    the box on EVERY dimension, and a file with NO stats for a dimension
    MUST be kept (a pruner cannot skip what it cannot bound).
    ``box`` maps column -> (lo, hi) inclusive."""
    import pandas as pd

    if len(envelopes) == 0:
        return 0.0
    kept = 0
    for _, row in envelopes.iterrows():
        keep = True
        for c, (lo, hi) in box.items():
            mn, mx = row[f"{c}_min"], row[f"{c}_max"]
            if mn is None or mx is None or pd.isna(mn) or pd.isna(mx):
                continue  # no stats -> cannot skip on this dimension
            if not (mx >= lo and mn <= hi):
                keep = False
                break
        kept += keep
    return 1.0 - kept / len(envelopes)
