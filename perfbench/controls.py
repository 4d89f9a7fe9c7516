"""Negative controls for the correctness checks.

For every workload, run its correctness pass with one wrong value planted
in otherwise correct results (a flipped sign, a dropped row) and show that
the check reports exactly the planted operations, plus the known faults.

    python3 perfbench/controls.py

Exits 0 when every planted fault is reported and nothing else is.
"""

from __future__ import annotations

import os
import sys


def flip_sign(rows: list) -> list:
    """Negate the first non-zero number of the first row that has one."""
    rows = [list(r) for r in rows]
    for r in rows:
        for i, v in enumerate(r):
            if isinstance(v, (int, float)) and not isinstance(v, bool) and v:
                r[i] = -v
                return [tuple(x) for x in rows]
    raise ValueError("no non-zero number to flip")


def drop_row(rows: list) -> list:
    return rows[1:]


def extra_row(rows: list) -> list:
    return rows + [rows[0] if rows else ("planted",)]


# workload -> {operation: planted fault}; one target per kind of check
TARGETS = {
    "interchange": {
        "q01_pricing_summary": flip_sign,       # DuckDB oracle
        "g1_read_filter_aggregate": flip_sign,  # golden oracle
        "fuzz": extra_row,                      # direct vs consumed
    },
    "execution": {
        "q01_pricing_summary": flip_sign,       # DuckDB oracle
        "q09_outer_joins": drop_row,
        "d2_minhash_pairs": flip_sign,          # Jaccard property check
        "e6_asof_join": drop_row,
    },
}


def main() -> int:
    import run

    run.use_checkout()
    import datagen
    from workloads import KNOWN_FAULTS, WORKLOADS

    from datafusion_substrait_spark.sources.catalog import register_testdata

    spark = run.start_session(None)
    ok = True
    try:
        for name, targets in TARGETS.items():
            cls = WORKLOADS[name]
            data_dir = datagen.ensure(os.path.join(run.OUT, "data"), cls.sf)
            register_testdata(spark, data_dir, allow_rebind=True)
            wl = cls(spark, data_dir, seed=1)
            if "fuzz" in targets:  # the first fuzz plan this seed draws
                fuzz = next(op[0] for op in wl.ops if op[0].startswith("fuzz"))
                targets = {fuzz if k == "fuzz" else k: v
                           for k, v in targets.items()}
            wl.plant = lambda op, rows: (targets[op](rows) if op in targets
                                         else rows)
            bad = wl.check()
            for op in targets:
                print(f"{name}/{op}: "
                      f"{'reported: ' + bad[op] if op in bad else 'MISSED'}")
            extra = set(bad) - set(targets) - KNOWN_FAULTS
            for op in sorted(extra):
                print(f"{name}/{op}: unexpected failure: {bad[op]}")
            ok = ok and set(targets) <= set(bad) and not extra
    finally:
        run.stop_session(spark)
    print("all planted faults reported" if ok else "CONTROL FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
