"""Run-ledger state machine (C4/C5/A5/M1-M3, load_sales_history.py:19-48)."""

from __future__ import annotations

import os
from datetime import datetime

import pytest

from bigdatapipelinepysparksqlserver_spark.plans.ledger import (
    FAILED,
    SUCCESSFUL,
    RunLedger,
    default_cutoff,
)

T0 = datetime(2024, 6, 1, 12, 3, 42, 123456)


def test_default_cutoff_truncates_and_lags():
    assert default_cutoff(T0) == datetime(2024, 6, 1, 11, 58)


def test_empty_ledger_first_run(spark, tmp_path):
    led = RunLedger(spark, str(tmp_path / "ledger"))
    assert led.next_run_id() == 1
    assert led.previous_cutoff(1) is None


def test_state_machine_and_restart(spark, tmp_path):
    led = RunLedger(spark, str(tmp_path / "ledger"))
    cut1 = default_cutoff(T0)

    led.start_run(1, T0, None, cut1)
    led.finish_run(1, T0, SUCCESSFUL)
    led.start_validation(1, T0)
    led.finish_validation(1, T0, SUCCESSFUL)

    run1 = led.rows()[0]
    assert run1.exec_start == T0 and run1.exec_start.microsecond == 123456
    assert run1.previous_cutoff is None
    assert [tuple(r) for r in led.read().collect()] == [tuple(r) for r in led.rows()]

    # run 2 fails validation -> next id must REUSE 2, not 3
    t1 = datetime(2024, 6, 1, 13, 0)
    cut2 = default_cutoff(t1)
    assert led.next_run_id() == 2
    led.start_run(2, t1, led.previous_cutoff(2), cut2)
    led.finish_run(2, t1, FAILED)
    assert led.next_run_id() == 2

    # restart: purge failed rows, previous_cutoff comes from run 1
    led.purge_failed(2)
    assert [r.id for r in led.read().collect()] == [1]
    assert led.previous_cutoff(2) == cut1


def test_validation_failure_blocks_id_advance(spark, tmp_path):
    led = RunLedger(spark, str(tmp_path / "ledger"))
    led.start_run(1, T0, None, default_cutoff(T0))
    led.finish_run(1, T0, SUCCESSFUL)
    led.start_validation(1, T0)
    led.finish_validation(1, T0, FAILED)
    # pipeline ok but validation failed -> run 1 is not fully successful
    assert led.next_run_id() == 1


def test_crash_mid_transition_keeps_previous_ledger(spark, tmp_path, monkeypatch):
    """A process dying inside a transition leaves the previous ledger
    whole, so the next run still sees run 1 and reuses id 2."""
    led = RunLedger(spark, str(tmp_path / "ledger"))
    led.start_run(1, T0, None, default_cutoff(T0))
    led.finish_run(1, T0, SUCCESSFUL)
    led.start_validation(1, T0)
    led.finish_validation(1, T0, SUCCESSFUL)
    t1 = datetime(2024, 6, 1, 13, 0)
    led.start_run(2, t1, led.previous_cutoff(2), default_cutoff(t1))

    real_rename = os.rename
    calls = []

    def crash_once(src, dst):
        calls.append(src)
        if len(calls) == 1:
            raise OSError("simulated crash before rename")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_once)
    with pytest.raises(OSError, match="simulated crash"):
        led.finish_run(2, t1, FAILED)
    assert [r.id for r in led.read().collect()] == [1, 2]
    assert led.next_run_id() == 2


def test_transitions_run_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    led = RunLedger(spark, str(tmp_path / "ledger"))
    sc.setJobGroup("ledger-no-spark", "ledger transitions")
    try:
        run_id = led.next_run_id()
        led.purge_failed(run_id)
        led.start_run(run_id, T0, led.previous_cutoff(run_id), default_cutoff(T0))
        led.finish_run(run_id, T0, SUCCESSFUL)
        led.start_validation(run_id, T0)
        led.finish_validation(run_id, T0, SUCCESSFUL)
        assert led.next_run_id() == 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("ledger-no-spark")) == []
