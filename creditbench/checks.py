"""Output checks and file-system layout counters.

A mart's fingerprint is its row count plus the sum, over rows, of a 64-bit
hash of the row's columns (taken in name order, each cast to string, nulls
mapped to a marker). A sum does not depend on row order or on how the mart
is split into files, so a mart read back from disk and the same mart held
in memory give equal fingerprints. Timestamp columns (``created_at``-style,
filled from ``current_timestamp``) are left out, as are columns the writer
derives only to partition by.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# partition columns that exist only in the written layout
DERIVED_COLUMNS = {"fct_dpd_daily": ("as_of_month",)}

_NULL = "\u0000null"


def fingerprint_frame(df: DataFrame, name: str) -> DataFrame:
    """One row ``(mart, rows, digest)`` for ``df``."""
    skip = set(DERIVED_COLUMNS.get(name, ()))
    cols = sorted(
        c for c, t in df.dtypes if c not in skip and not t.startswith("timestamp")
    )
    row_hash = F.xxhash64(
        *[F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols]
    )
    return df.agg(
        F.lit(name).alias("mart"),
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash.cast("decimal(38,0)")), F.lit(0)).cast("string")
        .alias("digest"),
    )


def fingerprints(frames: dict[str, DataFrame]) -> dict[str, tuple[int, str]]:
    """Fingerprint every frame in one Spark job."""
    union = functools.reduce(
        DataFrame.unionByName,
        (fingerprint_frame(df, name) for name, df in frames.items()),
    )
    return {r["mart"]: (int(r["rows"]), r["digest"]) for r in union.collect()}


def listing(root: str) -> dict[str, tuple[int, int]]:
    """Data files under ``root`` as ``relative path -> (bytes, mtime_ns)``;
    Spark's ``_SUCCESS`` markers and ``.crc`` checksums are left out."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            p = os.path.join(d, n)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def per_table(files: dict[str, tuple[int, int]]) -> dict[str, tuple[int, int]]:
    """``table -> (files, bytes)`` from a listing of a directory that holds
    one ``<table>.parquet`` directory per table."""
    out: dict[str, tuple[int, int]] = {}
    for path, (size, _) in files.items():
        table = path.split(os.sep, 1)[0].removesuffix(".parquet")
        n, b = out.get(table, (0, 0))
        out[table] = (n + 1, b + size)
    return out


def rewritten(before: dict, after: dict) -> tuple[int, int]:
    """(files, partition directories) added, removed or changed between two
    listings."""
    changed = {
        p for p in before.keys() | after.keys() if before.get(p) != after.get(p)
    }
    return len(changed), len({os.path.dirname(p) for p in changed})


def scan_counts(df: DataFrame) -> tuple[int, int]:
    """(files, partitions) read by the file scans of ``df``'s executed plan,
    from the scans' own metrics; call after an action on ``df``."""
    from py4j.protocol import Py4JError

    files = parts = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            files += _metric(node, "numFiles")
            parts += _metric(node, "numPartitions")
        try:
            children = node.children()
        except Py4JError:
            continue
        stack.extend(children.apply(i) for i in range(children.size()))
    return files, parts


def _metric(node, key: str) -> int:
    """A plan node's SQL metric, 0 when the node does not define it (an
    unpartitioned table has no partition count)."""
    m = node.metrics().get(key)
    return int(m.get().value()) if m.isDefined() else 0
