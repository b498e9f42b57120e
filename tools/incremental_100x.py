#!/usr/bin/env python
"""Price the month-partition incremental refresh at 100x reference
volumes (r13, verdict item #5).

``plans/incremental.py`` is the production nightly-refresh path a real
credit-ABS user runs — it is tested for refresh == full-rebuild equality
(tests/test_incremental.py) but had no scale record. This run generates
the 100x OLTP lake (200k borrowers / 300k applications / 150k loans,
~50M arrears rows — the same volumes as the r12 chain record), then
prices, min-of-2 each:

  * ``full_rebuild``  — the whole 7-mart pipeline (what the reference's
    dbt full-refresh does every run);
  * ``incremental``   — ``refresh_month``: ONE month (the latest)
    refreshed across ALL 7 marts in place via dynamic partition
    overwrite — the real nightly shape, including the vintage
    key-merge path (a quarter cohort's (cohort_q, mob) cell draws four
    snapshot months, so vintage refreshes through a +-3-month window).

Correctness assert (the roll-rate lookback): the refreshed roll-rate
month slice must row-equal the full build's slice — month M's
transitions need M-1's month-end snapshot, so this catches a lookback
window that's too narrow.

Usage: python tools/incremental_100x.py [--out bench_ab_r13/incremental_100x.json]
       [--mult 100]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from datetime import date

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="bench_ab_r13/incremental_100x.json")
    ap.add_argument("--mult", type=int, default=100)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from credit_abs_oltp_to_mart_spark.generator import (
        OLTPSynthConfig,
        run_credit_oltp_synth,
    )
    from credit_abs_oltp_to_mart_spark.plans import incremental
    from credit_abs_oltp_to_mart_spark.plans.pipeline import run_pipeline
    from credit_abs_oltp_to_mart_spark.session import get_spark

    spark = get_spark(app_name="incremental_100x")
    tmp = tempfile.mkdtemp(prefix="incremental_100x_")
    oltp = f"{tmp}/oltp"

    t0 = time.perf_counter()
    cfg = OLTPSynthConfig(
        n_borrowers=2000 * args.mult,
        n_applications=3000 * args.mult,
        n_loans=1500 * args.mult,
        start_date_max=date(2025, 12, 31),
        seed=42,
    )
    run_credit_oltp_synth(spark, cfg, out_dir=oltp)
    wall_gen = time.perf_counter() - t0
    n_arrears = spark.read.parquet(f"{oltp}/arrears_dpd_status.parquet").count()
    print(f"lake generated in {wall_gen:.1f}s, arrears rows {n_arrears}",
          flush=True)

    # ---- full 7-mart rebuild, min-of-2 (fresh out dir per rep) --------
    wall_full, frames = float("inf"), None
    for rep in range(2):
        out_dir = f"{tmp}/marts_full_{rep}"
        t0 = time.perf_counter()
        frames = run_pipeline(spark, oltp, out_dir=out_dir)
        wall_full = min(wall_full, time.perf_counter() - t0)
        spark.catalog.clearCache()
    marts_dir = f"{tmp}/marts_full_1"  # refresh in place on the last build

    roll_full = frames["fct_roll_rate_monthly"]
    target = max(r[0] for r in roll_full.select("month").distinct().collect())
    print(f"full rebuild min2 {wall_full:.1f}s, target month {target}",
          flush=True)

    # ---- one-month incremental refresh, min-of-2 (idempotent:
    # dynamic-partition-overwrite rewrites the same month slice) -------
    wall_inc, inc_frames = float("inf"), None
    for _ in range(2):
        t0 = time.perf_counter()
        inc_frames = incremental.refresh_month(
            spark, oltp, marts_dir, [target]
        )
        wall_inc = min(wall_inc, time.perf_counter() - t0)
        spark.catalog.clearCache()
    inc_roll = inc_frames["fct_roll_rate_monthly"]

    # ---- roll-rate lookback correctness: refreshed slice == full ------
    cols = ["month", "from_bucket", "to_bucket"]
    have = set(roll_full.columns)
    cols = [c for c in cols if c in have]
    metric = [c for c in roll_full.columns if c not in cols]
    exp_rows = sorted(
        tuple(r)
        for r in roll_full.where(F.col("month") == target).collect()
    )
    got_rows = sorted(
        tuple(r)
        for r in spark.read.parquet(
            f"{marts_dir}/fct_roll_rate_monthly.parquet"
        )
        .where(F.col("month").cast("date") == target)
        .select(
            *[
                F.col(c).cast(dict(roll_full.dtypes)[c]).alias(c)
                for c in roll_full.columns
            ]
        )
        .collect()
    )
    lookback_ok = exp_rows == got_rows
    assert lookback_ok, (
        f"roll-rate lookback mismatch: {len(exp_rows)} full vs"
        f" {len(got_rows)} refreshed rows for {target}"
    )
    assert inc_roll.count() == len(exp_rows)

    # vintage key-merge correctness: the refreshed cells must equal the
    # full build's rows for the same (cohort_q, mob) keys
    cells = inc_frames["fct_vintage_mob"]
    vfull = frames["fct_vintage_mob"]
    vexp = sorted(
        tuple(r)
        for r in vfull.join(
            F.broadcast(cells.select("cohort_q", "mob")),
            ["cohort_q", "mob"],
            "left_semi",
        ).collect()
    )
    vgot = sorted(tuple(r) for r in cells.select(*vfull.columns).collect())
    vintage_ok = vexp == vgot
    assert vintage_ok, (len(vexp), len(vgot))

    results = {
        "task": (
            f"r13 incremental month refresh (refresh_month, ALL 7 marts)"
            f" vs full 7-mart rebuild at {args.mult}x reference volumes"
        ),
        "marts_refreshed": 7,
        "volumes": {
            "borrowers": cfg.n_borrowers,
            "applications": cfg.n_applications,
            "loans": cfg.n_loans,
            "arrears_rows": n_arrears,
        },
        "target_month": str(target),
        "wall_generate_lake": round(wall_gen, 1),
        "wall_full_rebuild_min2": round(wall_full, 2),
        "wall_incremental_one_month_min2": round(wall_inc, 2),
        "speedup_full_over_incremental": round(wall_full / wall_inc, 1),
        "roll_rate_lookback_slice_equal": lookback_ok,
        "vintage_key_merge_cells_equal": vintage_ok,
    }
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
