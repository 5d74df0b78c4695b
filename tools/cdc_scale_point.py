"""CDC round-trip scale point (VERDICT r5 #4): measure that an
incremental cycle's cost tracks the CHANGE SET, not the lake.

The engine's central CDC contract — "rebuild cost ∝ changed
partitions" (plans/incremental.py) — was plan-asserted but never timed
at volume. This tool seeds two workloads whose BASE differs by
``--factor`` (default 10x) while the RUN-2 CHANGE BATCH is identical in
absolute size (fixed insert count, p scaled as count/N for
updates/deletes), runs the full pipeline-1 cycle (detection → extract →
dynamic overwrite → delete cleanup → two-sided reconcile) on both, and
reports run-2 wall next to the base ratio.

What should and shouldn't be flat:

- extract + overwrite + reconcile read only the changed partitions
  (partition-pruned on both sides) → flat in base size;
- changed-partition DETECTION is a predicate-pushed columnar scan of the
  source's date columns — linear in source rows but byte-cheap; it is
  the one term expected to grow, exactly like the reference's
  ``WHERE updated_date > ?`` table scan when SQL Server lacks an index
  (README.md:58). The JSON separates it so the flat claim is testable;
- the FULL-INVALIDATION cycle (timed since r7) — a fixed-size scattered
  update/delete batch whose victims are uniform over the whole history,
  marking ~every partition changed — is expected ~LINEAR in the lake:
  that worst case rebuilds everything by design, and the contrast
  between its slope and the insert-only cycle's flat one IS the
  incremental contract, measured from both sides.

Usage:
    python tools/cdc_scale_point.py [--rows-base 30000] [--factor 10]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime, timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatapipelinepysparksqlserver_spark.pipelines import run_pipeline_1  # noqa: E402
from bigdatapipelinepysparksqlserver_spark.plans.ledger import RunLedger  # noqa: E402
from bigdatapipelinepysparksqlserver_spark.session import get_spark  # noqa: E402
from bigdatapipelinepysparksqlserver_spark.sources.lake import LakeTable  # noqa: E402
from bigdatapipelinepysparksqlserver_spark.workload import (  # noqa: E402
    SourceTables,
    WorkloadGenerator,
)

T1 = datetime(2024, 6, 1, 12, 0, 0)
T2 = T1 + timedelta(days=1)

CHANGE_INSERTS = 2_000
# the measured change batch is INSERTS ONLY, confined to a 3-day window
# (1-2 monthly partitions): updates/deletes pick victims uniformly over
# the whole history, which at a 1000-day base marks EVERY partition
# changed — correct CDC behavior, but then run 2 rebuilds the full lake
# and the measurement says nothing about partition-bounded cost. A
# separate small mutation batch still exercises those paths at each
# scale (asserted, untimed) so the timed cycle is a pure
# few-partitions rebuild.
MUTATION_UPDATES = 200
MUTATION_DELETES = 50


def one_scale(spark, root: str, n_rows: int, snapshot: bool = False) -> dict:
    src = SourceTables(spark, os.path.join(root, "oltp"))
    gen = WorkloadGenerator(src, seed=42)
    gen.seed_dimensions(n_clients=200, n_products=50)
    if snapshot:
        from bigdatapipelinepysparksqlserver_spark.sources.lake_snapshot import (
            SnapshotLakeTable,
        )

        lake = SnapshotLakeTable(spark, os.path.join(root, "lake"))
    else:
        lake = LakeTable(spark, os.path.join(root, "lake"))
    ledger = RunLedger(spark, os.path.join(root, "ledger"))

    # base corpus across ~3 years of partitions; run 1 = full load
    gen.insert_sales(n_rows, batch=1, now=T1, spread_days=1000)
    t0 = time.time()
    run_pipeline_1(spark, src, lake, ledger, now=T1)
    full_wall = time.time() - t0

    # an untimed mutation cycle exercises update/delete propagation at
    # this scale (their uniformly-scattered victims mark ~every
    # partition changed — correct, but not the bounded shape under test)
    mstamp = T1 + timedelta(hours=11)
    gen.update_sales(batch=2, now=mstamp, p=MUTATION_UPDATES / n_rows)
    gen.delete_sales(batch=2, now=mstamp, p=MUTATION_DELETES / n_rows)
    mrep = run_pipeline_1(spark, src, lake, ledger, now=T1 + timedelta(hours=12))
    assert mrep["validation"].status == "SUCCESSFUL", mrep

    # the TIMED cycle: fixed-size insert batch confined to a ~3-day
    # partition window — the daily-ingest shape whose rebuild must stay
    # flat as the lake grows
    stamp = T2 - timedelta(hours=1)
    gen.insert_sales(CHANGE_INSERTS, batch=3, now=stamp, spread_days=3)
    n_upd = n_del = 0

    # isolate the detection scan (the expected-linear term) from the
    # partition-bounded rebuild by timing the work list alone first
    from bigdatapipelinepysparksqlserver_spark.plans.incremental import (
        IncrementalLoader,
    )

    loader = IncrementalLoader(
        src.read("sales"), src.read("clients"), src.read("products"),
        src.read("removed"), lake,
    )
    t0 = time.time()
    parts = loader.changed_partition_list(
        ledger.previous_cutoff(ledger.next_run_id()), T2
    )
    detect_wall = time.time() - t0

    t0 = time.time()
    rep = run_pipeline_1(spark, src, lake, ledger, now=T2)
    run2_wall = time.time() - t0
    assert rep["validation"].status == "SUCCESSFUL", rep

    # the timed FULL-INVALIDATION cycle (VERDICT r6 #4): a fixed-size
    # update/delete batch whose victims are uniform over the WHOLE
    # history marks ~every monthly partition changed — the reference's
    # own worst case (scattered `updated_date` rows force the
    # `WHERE updated_date > ?` extract to rebuild everything,
    # README.md:62). Correct CDC behavior, deliberately NOT
    # partition-bounded: the expected contract is ~LINEAR wall in the
    # base lake size (every partition rewrites), in contrast to the
    # flat insert-only row above. The change batch stays fixed in
    # absolute size across scales so the slope isolates the lake term.
    fstamp = T2 + timedelta(hours=11)
    gen.update_sales(batch=4, now=fstamp, p=MUTATION_UPDATES / n_rows)
    gen.delete_sales(batch=4, now=fstamp, p=MUTATION_DELETES / n_rows)
    loader = IncrementalLoader(
        src.read("sales"), src.read("clients"), src.read("products"),
        src.read("removed"), lake,
    )
    t3 = T2 + timedelta(hours=12)
    inval_parts = loader.changed_partition_list(
        ledger.previous_cutoff(ledger.next_run_id()), t3
    )
    t0 = time.time()
    rep3 = run_pipeline_1(spark, src, lake, ledger, now=t3)
    inval_wall = time.time() - t0
    assert rep3["validation"].status == "SUCCESSFUL", rep3
    return {
        "base_rows": n_rows,
        "full_load_wall_s": round(full_wall, 2),
        "changed_rows": CHANGE_INSERTS + n_upd + n_del,
        "changed_partitions": len(parts),
        "detect_wall_s": round(detect_wall, 2),
        "run2_wall_s": round(run2_wall, 2),
        "full_invalidation_partitions": len(inval_parts),
        "full_invalidation_wall_s": round(inval_wall, 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows-base", type=int, default=30_000)
    ap.add_argument("--factor", type=int, default=10)
    # --snapshot-lake: run the identical protocol over the
    # manifest-versioned SnapshotLakeTable (VERDICT r8 #1 regression
    # gate: its atomic publish must not cost >1.2x the dynamic-
    # overwrite path on the change-set-bounded cycle)
    ap.add_argument("--snapshot-lake", action="store_true")
    args = ap.parse_args()

    spark = get_spark("cdc-scale-point")
    # discarded warmup cycle: the first pipeline run in a fresh JVM pays
    # codegen/classloading that would otherwise inflate the BASE
    # measurement and flatter the scaled one
    warm_root = tempfile.mkdtemp(prefix="cdc_scale_warm_")
    try:
        one_scale(spark, warm_root, 2_000, snapshot=args.snapshot_lake)
    finally:
        shutil.rmtree(warm_root, ignore_errors=True)
    out = {}
    for label, n in (("base", args.rows_base), ("scaled", args.rows_base * args.factor)):
        root = tempfile.mkdtemp(prefix=f"cdc_scale_{label}_")
        try:
            out[label] = one_scale(spark, root, n, snapshot=args.snapshot_lake)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        print(f"# {label}: {out[label]}", file=sys.stderr, flush=True)
    out["factor"] = args.factor
    out["lake"] = "snapshot" if args.snapshot_lake else "dynamic-overwrite"
    out["run2_ratio"] = round(
        out["scaled"]["run2_wall_s"] / max(out["base"]["run2_wall_s"], 1e-9), 2
    )
    # expected ~linear (every partition rebuilds); run2_ratio is the flat one
    out["full_invalidation_ratio"] = round(
        out["scaled"]["full_invalidation_wall_s"]
        / max(out["base"]["full_invalidation_wall_s"], 1e-9),
        2,
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
