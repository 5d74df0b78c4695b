"""Run-ledger / lineage state machine (reference `Sales_History_Lineage`).

Reproduces the reference's exactly-once-with-restart protocol
(`load_sales_history.py:19-48,:63-65,:181-183,:200-202,:249-251`):

1. next run-id = COALESCE(MAX(id of fully-successful runs), 0) + 1   (A5, P7)
2. purge rows of failed runs: DELETE WHERE id >= next_id             (M3, P8)
3. INSERT (id, exec_start, cutoffs, 'RUNNING', 'NOT STARTED')        (M1)
4. UPDATE pipeline_status -> SUCCESSFUL/FAILED on finish             (M2)
5. UPDATE validation_* on reconcile                                  (M2)
6. previous_cutoff = current_cutoff of run (id-1)                    (S11)

The protocol is written once, in ``RunLedger``, over ``rows()`` and three
storage primitives (``_delete_from``, ``_insert``, ``_update``). The ledger
is tiny (one row per run), so ``RunLedger`` keeps it as one JSON document
(ISO-8601 timestamps) replaced through ``LocalFS.set_pointer``: each
transition is one atomic replace, a crash leaves the old or the new
ledger, and no Spark job runs. ``JdbcRunLedger`` swaps in per-row SQL.

All timestamps are injected (``clock`` callables) — SURVEY §7.5 risk 3:
`datetime.now()` at 6+ reference sites makes runs unreproducible; the
engine takes the clock as a parameter for deterministic tests.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta

from pyspark.sql import Row, SparkSession
from pyspark.sql.types import TimestampType

from ..schemas import LEDGER
from ..sources.fs import LocalFS

RUNNING = "RUNNING"
SUCCESSFUL = "SUCCESSFUL"
FAILED = "FAILED"
NOT_STARTED = "NOT STARTED"

_TIMESTAMPS = {f.name for f in LEDGER.fields if isinstance(f.dataType, TimestampType)}


def default_cutoff(now: datetime, lag_minutes: int = 5) -> datetime:
    """F6 — truncate to minute, minus safety lag (load_sales_history.py:33-36).

    The 5-minute lag is the watermark against in-flight OLTP transactions:
    a row commit-stamped at 12:00:59.9 must not be missed by a cutoff taken
    at 12:01:00.0.
    """
    return now.replace(second=0, microsecond=0) - timedelta(minutes=lag_minutes)


class RunLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- reads ------------------------------------------------------------

    def rows(self) -> list[Row]:
        """Ledger rows in run order; a missing ledger reads as empty."""
        doc = LocalFS().read_pointer(self.path) or "[]"
        return [
            Row(**{k: datetime.fromisoformat(d[k]) if k in _TIMESTAMPS and d[k] else d[k]
                   for k in LEDGER.names})
            for d in json.loads(doc)
        ]

    def read(self):
        return self.spark.createDataFrame(self.rows(), LEDGER)

    def next_run_id(self) -> int:
        """MAX(id)+1 over fully-successful runs (load_sales_history.py:25-27)."""
        ok = [
            r.id
            for r in self.rows()
            if r.pipeline_status == SUCCESSFUL and r.validation_status == SUCCESSFUL
        ]
        return (max(ok) if ok else 0) + 1

    def previous_cutoff(self, run_id: int) -> datetime | None:
        """current_cutoff of run (run_id - 1); None = first run = full load
        (load_sales_history.py:39-48)."""
        return next(
            (r.current_cutoff for r in self.rows() if r.id == int(run_id) - 1), None
        )

    # -- mutations --------------------------------------------------------

    def purge_failed(self, from_id: int) -> None:
        """M3/P8 — DELETE WHERE id >= from_id: erase traces of failed runs
        so a restart is idempotent (load_sales_history.py:30-31)."""
        self._delete_from(int(from_id))

    def start_run(self, run_id: int, now: datetime, previous_cutoff: datetime | None,
                  current_cutoff: datetime) -> None:
        """M1 — append the RUNNING row (load_sales_history.py:63-65)."""
        self._insert(Row(
            id=run_id,
            exec_start=now,
            exec_finish=None,
            previous_cutoff=previous_cutoff,
            current_cutoff=current_cutoff,
            pipeline_status=RUNNING,
            validation_start=None,
            validation_finish=None,
            validation_status=NOT_STARTED,
        ))

    def finish_run(self, run_id: int, now: datetime, status: str) -> None:
        """M2 — UPDATE exec_finish/pipeline_status WHERE id = run_id
        (load_sales_history.py:181-183)."""
        self._update(run_id, exec_finish=now, pipeline_status=status)

    def start_validation(self, run_id: int, now: datetime) -> None:
        self._update(run_id, validation_start=now, validation_status=RUNNING)

    def finish_validation(self, run_id: int, now: datetime, status: str) -> None:
        """M2 — UPDATE validation verdict (load_sales_history.py:249-251)."""
        self._update(run_id, validation_finish=now, validation_status=status)

    # -- storage primitives -----------------------------------------------

    def _delete_from(self, from_id: int) -> None:
        self._save([r for r in self.rows() if r.id < from_id])

    def _insert(self, row: Row) -> None:
        self._save(self.rows() + [row])

    def _update(self, run_id: int, **fields) -> None:
        self._save([
            Row(**{**r.asDict(), **fields}) if r.id == run_id else r
            for r in self.rows()
        ])

    def _save(self, rows: list[Row]) -> None:
        LocalFS().set_pointer(self.path, json.dumps([
            {k: v.isoformat() if isinstance(v, datetime) else v
             for k, v in r.asDict().items()}
            for r in rows
        ]))


class JdbcRunLedger(RunLedger):
    """The ledger where the reference keeps it: the lineage table
    `Sales_History_Lineage` in the SQL database. Only the storage
    primitives differ — per-row INSERT (M1), UPDATE ... WHERE id (M2) and
    DELETE WHERE id >= n (M3/P8) over a raw java.sql connection; Spark's
    writer does the first INSERT so the table gets VARCHAR status
    columns. Timestamps are UTC-naive JDBC literals, matching the
    session timezone the engine pins.
    """

    TABLE = "SALES_HISTORY_LINEAGE"

    def __init__(self, spark: SparkSession, cfg):
        self.spark = spark
        self.cfg = cfg

    # -- storage layer ----------------------------------------------------

    def _connection(self):
        jvm = self.spark.sparkContext._jvm
        return jvm.java.sql.DriverManager.getConnection(
            self.cfg.url, self.cfg.user, self.cfg.password
        )

    def _exists(self) -> bool:
        conn = self._connection()
        try:
            rs = conn.getMetaData().getTables(None, None, self.TABLE, None)
            try:
                return bool(rs.next())
            finally:
                rs.close()
        finally:
            conn.close()

    def _execute(self, sql: str) -> None:
        conn = self._connection()
        try:
            conn.createStatement().executeUpdate(sql)
        finally:
            conn.close()

    @staticmethod
    def _ts(dt: datetime) -> str:
        return "TIMESTAMP('" + dt.strftime("%Y-%m-%d %H:%M:%S") + "')"

    def rows(self) -> list[Row]:
        return self.read().collect()

    def read(self):
        from ..sources.jdbc import read_jdbc

        if not self._exists():
            return self.spark.createDataFrame([], LEDGER)
        df = read_jdbc(self.spark, self.cfg, self.TABLE)
        return df.select(
            *[df[f.name].cast(f.dataType).alias(f.name) for f in LEDGER.fields]
        )

    def _delete_from(self, from_id: int) -> None:
        if self._exists():
            self._execute(f'DELETE FROM {self.TABLE} WHERE "id" >= {from_id}')

    def _insert(self, row: Row) -> None:
        from ..sources.jdbc import write_jdbc

        write_jdbc(
            self.spark.createDataFrame([row], LEDGER),
            self.cfg,
            self.TABLE,
            mode="append",
            create_column_types="pipeline_status VARCHAR(16), validation_status VARCHAR(16)",
        )

    def _update(self, run_id: int, **fields) -> None:
        sets = []
        for k, v in fields.items():
            if isinstance(v, datetime):
                sets.append(f'"{k}" = {self._ts(v)}')
            else:
                sets.append(f"\"{k}\" = '{v}'")
        self._execute(
            f'UPDATE {self.TABLE} SET {", ".join(sets)} WHERE "id" = {int(run_id)}'
        )
