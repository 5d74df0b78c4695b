"""Partitioned-parquet lake management (SURVEY §2.1 S4-S6, §2.8 M6).

The reference manages a Hive table partitioned by (year_month, country)
with explicit drop-partition + insert (`load_sales_history.py:101-103,
:170-177`). Spark-first, that two-step collapses into ONE operation:
``partitionOverwriteMode=dynamic`` + ``mode("overwrite")`` rewrites only
the partitions present in the incoming DataFrame and leaves every other
partition untouched — atomic per partition, idempotent on retry (C4).

Path-based tables (no metastore dependency) so the same code runs under
plain local Spark, a Hive metastore, or a lakehouse catalog.

Scale notes:
- dynamic overwrite touches exactly the changed partitions — rebuild cost
  is proportional to the CHANGE SET, never the table (the whole point of
  partition-grain CDC at 100 TB).
- every write leaves one file per partition, avoiding the small-files
  problem the reference calls out (README.md:62).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..schemas import LAKE_PARTITION_COLS


class LakeTable:
    """A partitioned parquet table rooted at ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_cols: Sequence[str] = LAKE_PARTITION_COLS,
        schema=None,
    ):
        self.spark = spark
        self.path = path
        self.partition_cols = tuple(partition_cols)
        # fallback schema for the legitimately-EMPTY table state (every
        # partition deleted): parquet can't infer a schema from zero
        # files, but an empty table is not an error — CDC can delete
        # everything. Default: the lake's wide sales-history schema.
        if schema is None:
            from ..schemas import SALES_HISTORY

            schema = SALES_HISTORY
        self.schema = schema

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            not n.startswith(("_", ".")) for n in os.listdir(self.path)
        )

    def read(self, merge_schema: bool = False) -> DataFrame:
        """Full-table scan; Catalyst prunes partitions from any filter on
        the partition columns (verify via PartitionFilters in .explain).
        An empty/absent table reads as zero rows of ``self.schema``.

        ``merge_schema=True`` unions the schemas of ALL partition files
        (columns added by later CDC runs read as NULL in older
        partitions) — schema evolution without rewriting history, which
        at 100 TB is the only affordable kind. Off by default: merging
        footers costs a file-listing pass, and the steady-state reader
        should use the latest schema it already knows."""
        if not self.exists():
            return self.spark.createDataFrame([], self.schema)
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(self.path)

    def write_full(self, df: DataFrame) -> None:
        """Initial full load (reference: first run, empty partition list →
        full-window extract)."""
        self._writer(df).mode("overwrite").parquet(self.path)

    def overwrite_partitions(self, df: DataFrame) -> None:
        """M6 — dynamic partition overwrite: replaces exactly the partitions
        present in ``df`` (the drop+insert of load_sales_history.py:172-173
        as one atomic-per-partition op). Requires
        spark.sql.sources.partitionOverwriteMode=dynamic (session factory
        sets it; asserted here because static mode would TRUNCATE the
        table — a silent data-loss failure mode)."""
        mode = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        if (mode or "").lower() != "dynamic":
            raise RuntimeError(
                "partitionOverwriteMode must be 'dynamic' for partition-grain "
                f"overwrite (got {mode!r}); static mode would drop unrelated partitions"
            )
        if not self.exists():
            self.write_full(df)
            return
        self._writer(df).mode("overwrite").parquet(self.path)

    def apply_rebuild(self, df: DataFrame, changed_year_months: Sequence) -> None:
        """One CDC rebuild (the drop + insert of
        load_sales_history.py:168-177): replace the partitions ``df``
        produces, then drop every partition under a changed leading key
        (``changed_year_months``) that ``df`` no longer produces.

        The drop is the delete-to-empty cleanup: dynamic overwrite can
        only REPLACE partitions present in ``df``, so a changed partition
        whose rows were all deleted would otherwise keep its stale data.
        Both partition listings are tiny collects bounded by the change
        set; a table partitioned by the leading key alone needs no lake
        listing, its candidates being the changed keys themselves."""
        pcols = self.partition_cols
        kept = {tuple(r) for r in df.select(*pcols).distinct().collect()}
        self.overwrite_partitions(df)
        if not self.exists():
            return
        if len(pcols) == 1:
            candidates = {(v,) for v in changed_year_months}
        else:
            candidates = {
                tuple(r)
                for r in self.partitions()
                .where(F.col(pcols[0]).isin(list(changed_year_months)))
                .collect()
            }
        stale = sorted(candidates - kept)
        if stale:
            self.drop_partition_values(stale)

    def drop_partition_values(self, rows: Sequence[Sequence]) -> None:
        """Drop fully-qualified partitions, one (value per partition col,
        in ``partition_cols`` order) tuple each — the delete-to-empty
        cleanup path of :meth:`apply_rebuild`. Missing partitions no-op."""
        import shutil

        root = os.path.abspath(self.path)
        for vals in rows:
            if len(vals) != len(self.partition_cols):
                raise ValueError(
                    f"expected {len(self.partition_cols)} values {self.partition_cols}, got {vals!r}"
                )
            d = os.path.join(
                root, *[f"{k}={v}" for k, v in zip(self.partition_cols, vals)]
            )
            if os.path.isdir(d):
                shutil.rmtree(d)
            # prune now-empty ancestor partition dirs (an empty
            # `year_month=X` shell would make the parquet reader fail
            # schema inference on an otherwise-valid empty table)
            parent = os.path.dirname(d)
            while parent != root and os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
                parent = os.path.dirname(parent)

    def register_catalog_table(self, name: str) -> None:
        """S4 — catalog DDL: CREATE TABLE IF NOT EXISTS ... USING PARQUET
        PARTITIONED BY ... LOCATION path (load_sales_history.py:101-103),
        then partition discovery (MSCK REPAIR) so SQL readers see every
        partition directory. Idempotent."""
        df = self.read()
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in df.schema.fields
        )
        parts = ", ".join(f"`{c}`" for c in self.partition_cols)
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING PARQUET "
            f"PARTITIONED BY ({parts}) LOCATION '{os.path.abspath(self.path)}'"
        )
        self.spark.sql(f"MSCK REPAIR TABLE {name}")

    def partitions(self) -> DataFrame:
        """A1-style distinct partition listing, resolved from directory
        metadata (no data scan — Spark lists partition dirs)."""
        return self.read().select(*self.partition_cols).distinct()

    def _writer(self, df: DataFrame):
        # hash-repartition on the partition keys: every row of one lake
        # partition lands in one shuffle task → exactly one file per
        # partition (small-files avoidance, README.md:62), so a rebuild
        # never fragments a partition across runs.
        ordered = df.select(
            *[c for c in df.columns if c not in self.partition_cols],
            *self.partition_cols,
        )
        out = ordered.repartition(*[F.col(c) for c in self.partition_cols])
        return out.write.partitionBy(*self.partition_cols)


def write_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    bucket_col: "str | list[str]",
    num_buckets: int,
    sort_col: "str | list[str] | None" = None,
    path: str | None = None,
) -> None:
    """Hash-bucketed (and optionally sorted) catalog table.

    Bucketing is the pre-shuffle: both sides of a repeated equi-join (or a
    repeated groupBy) written with the SAME bucket column and count join
    WITHOUT any Exchange — the hash partitioning is baked into the file
    layout at write time, and with ``sort_col`` the sort is too, so a
    sort-merge join degenerates to a zip of pre-sorted buckets. At 100 TB
    this converts the fact⋈fact shuffle (the single most expensive
    operation in the pipeline) into a local merge, paid once at ingest.
    Idempotent: re-running replaces the table.

    Multi-column joins: bucket by ALL the join keys (pass a list) —
    Spark's co-partitioning check requires every cluster key by default
    (`spark.sql.requireAllClusterKeysForCoPartition`), so a subset
    bucketing still forces an Exchange on the stored side.
    """
    bcols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    w = df.write.format("parquet").mode("overwrite").bucketBy(
        num_buckets, bcols[0], *bcols[1:]
    )
    if sort_col is not None:
        scols = [sort_col] if isinstance(sort_col, str) else list(sort_col)
        w = w.sortBy(scols[0], *scols[1:])
    if path is not None:
        w = w.option("path", os.path.abspath(path))
    w.saveAsTable(name)


def zorder_value(scaled_cols: Sequence, bits: int = 12):
    """Morton (z-curve) interleave of pre-scaled long columns.

    Each input must already be scaled into ``[0, 2**bits)``; the result
    interleaves their bits (col j supplies bit position ``i*n + j``) so
    rows close in ALL dimensions get close z-values. Pure bitwise
    shift/and/or expressions — codegen'd, no UDF.
    """
    n = len(scaled_cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(scaled_cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zcols: Sequence[str],
    num_files: int,
    bits: int = 12,
) -> None:
    """Multi-dimensional clustering: write ``df`` as ``num_files`` parquet
    files range-partitioned and sorted on the z-value of ``zcols``.

    Linear sort keys cluster one dimension and scatter the rest; the
    z-curve keeps every listed dimension locally clustered, so parquet
    min/max footer stats stay TIGHT on all of them and predicates on any
    subset of ``zcols`` skip most files/row-groups (the lake-layout
    optimization Delta's OPTIMIZE ZORDER applies; here as a plain-parquet
    write). One extra stats pass computes min/max per column to scale
    values into the ``bits``-wide grid — at 100 TB, run it on the
    partition being compacted, not the whole table.

    Scale: repartitionByRange samples z-values to draw file boundaries
    (no global sort); each output task writes one locally-sorted file.
    """
    mins = [F.min(c).alias(f"mn_{c}") for c in zcols]
    maxs = [F.max(c).alias(f"mx_{c}") for c in zcols]
    st = df.agg(*mins, *maxs).first()
    top = (1 << bits) - 1
    scaled = []
    for c in zcols:
        mn, mx = st[f"mn_{c}"], st[f"mx_{c}"]
        span = max(int(mx) - int(mn), 1)
        scaled.append(
            ((F.col(c).cast("long") - F.lit(int(mn))) * top / span).cast("long")
        )
    z = zorder_value(scaled, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bloom_store(
    df: DataFrame,
    path: str,
    key: str,
    ndv: int,
    extra_bloom_cols: Sequence[str] = (),
    cluster_col: str | None = None,
    num_files: int | None = None,
    fpp: float = 0.01,
    row_group_bytes: int | None = None,
) -> None:
    """Point-lookup-capable corpus store: parquet with BLOOM FILTERS on
    ``key`` (and ``extra_bloom_cols``), clustered by ``cluster_col``.

    The layout answers the 100 TB ops question min/max stats cannot:
    "fetch these K doc_ids from the corpus" when the store is kept in
    its NATURAL cluster order (time, source, topic) so the id column is
    scattered across every file — footer min/max spans the whole id
    range in every row group and prunes nothing. A per-row-group bloom
    filter (parquet-mr ``BlockSplitBloomFilter``, sized from ``ndv`` and
    ``fpp``) lets the reader drop row groups whose filter misses the
    probed key BEFORE decoding any page: an ``=``/``IN`` predicate reads
    ~(matches + fpp·row_groups) groups instead of the full table. Spark's
    scan applies this automatically — pushed ``eq``/``in`` predicates
    reach parquet-mr's row-group filter, which consults the bloom filter
    when footer stats can't decide (reader conf
    ``parquet.filter.bloom.enabled``, default true).

    ``ndv`` is the expected distinct count of ``key`` PER ROW GROUP (the
    filter is per column chunk); passing the table-level NDV merely
    oversizes the bitset — wasted footer bytes, never wrong answers.
    Bloom filters give false POSITIVES only (an extra row group read at
    rate ``fpp``), never false negatives, so results are always exact.

    ``cluster_col`` (default: the key itself) orders rows within files.
    Clustering by a non-key column is the bloom filter's home turf;
    clustering by the key itself makes min/max stats do the pruning and
    the bloom filter a cheap belt-and-braces layer for absent-key probes.
    ``row_group_bytes`` shrinks row groups below the 128 MB default —
    pruning granularity is the row group, so smaller groups prune finer
    at the cost of more footer entries (tests use tiny groups to get
    many groups from small data).
    """
    order = cluster_col or key
    out = df
    if num_files is not None:
        out = out.repartitionByRange(num_files, F.col(order))
    w = (
        out.sortWithinPartitions(order)
        .write.mode("overwrite")
        .option(f"parquet.bloom.filter.enabled#{key}", "true")
        .option(f"parquet.bloom.filter.expected.ndv#{key}", str(int(ndv)))
        .option(f"parquet.bloom.filter.fpp#{key}", repr(float(fpp)))
    )
    for c in extra_bloom_cols:
        w = (
            w.option(f"parquet.bloom.filter.enabled#{c}", "true")
            .option(f"parquet.bloom.filter.expected.ndv#{c}", str(int(ndv)))
            .option(f"parquet.bloom.filter.fpp#{c}", repr(float(fpp)))
        )
    if row_group_bytes is not None:
        w = w.option("parquet.block.size", str(int(row_group_bytes)))
    w.parquet(path)


def point_lookup(
    spark: SparkSession, path: str, key: str, values: Sequence
) -> DataFrame:
    """Fetch the rows of a :func:`write_bloom_store` store whose ``key``
    is in ``values`` — a plain pushed-down IN scan; the bloom/stats
    row-group pruning happens inside the parquet reader, invisible to
    the plan (the scan shows ``PushedFilters: [In(key, ...)]``)."""
    return spark.read.parquet(path).where(F.col(key).isin(list(values)))


def bloom_prune_audit(
    spark: SparkSession, path: str, key: str, value: int
) -> "tuple[int, int]":
    """(surviving, total) row groups across the store's files for an
    ``eq(key, value)`` probe, measured through parquet-mr's OWN
    row-group filter (``ParquetFileReader.open`` with a record filter —
    the same stats→dictionary→bloom cascade the Spark scan runs). The
    ops-side proof that a store's layout actually prunes: surviving ≪
    total for present keys, ~0 for absent ones.

    ``value`` must be a Python int outside 32-bit range OR the probe
    column declared INT64 with values that Py4J maps to a JVM long —
    this helper probes via the JVM API directly. Audit/ops tooling, not
    a query path.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    FilterApi = jvm.org.apache.parquet.filter2.predicate.FilterApi
    FilterCompat = jvm.org.apache.parquet.filter2.compat.FilterCompat
    pred = FilterCompat.get(FilterApi.eq(FilterApi.longColumn(key), int(value)))
    surviving = total = 0
    for root, _dirs, files in os.walk(path):
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            p = jvm.org.apache.hadoop.fs.Path(os.path.join(root, fname))
            infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                p, hconf
            )
            plain = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
            total += plain.getRowGroups().size()
            plain.close()
            opts = (
                jvm.org.apache.parquet.ParquetReadOptions.builder()
                .withRecordFilter(pred)
                .build()
            )
            filt = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile, opts)
            surviving += filt.getRowGroups().size()
            filt.close()
    return surviving, total


def analyze_table(
    spark: SparkSession,
    name: str,
    columns: Sequence[str] = (),
    partition_spec: str | None = None,
) -> None:
    """Collect optimizer statistics for a catalog table — the missing
    half of "let Catalyst optimize": without stats the planner only
    knows FILE SIZES, so a selective filter on a big table still looks
    big and a broadcast-able join side gets a sort-merge plan. ANALYZE
    records rowCount/sizeInBytes plus per-column NDV/min/max/null-count
    histogram inputs; with ``spark.sql.cbo.enabled`` the filter/join
    estimators then shrink filtered relations to ~size/ndv and flip
    them under ``autoBroadcastJoinThreshold`` — the plan change that
    turns a fact⋈filtered-fact shuffle into a broadcast at 100 TB.

    ``partition_spec`` (e.g. ``"year_month=202405"``) scopes the scan to
    newly-loaded partitions — stats refresh cost ∝ change set, the same
    contract as the CDC rebuild. Column stats are table-wide; refresh
    them at the cadence selectivity drifts, not per load.
    """
    if partition_spec:
        spark.sql(
            f"ANALYZE TABLE {name} PARTITION ({partition_spec}) "
            "COMPUTE STATISTICS"
        )
    else:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    if columns:
        collist = ", ".join(f"`{c}`" for c in columns)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {collist}")


def table_stats(spark: SparkSession, name: str) -> dict:
    """The recorded statistics, parsed from ``DESCRIBE EXTENDED``:
    ``{"sizeInBytes": int|None, "rowCount": int|None}`` — what the
    planner will actually use (None = never analyzed → file-size
    fallback)."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    out: dict = {"sizeInBytes": None, "rowCount": None}
    for r in rows:
        if r.col_name == "Statistics":
            # e.g. "12345 bytes, 600 rows"
            for part in r.data_type.split(","):
                part = part.strip()
                if part.endswith("bytes"):
                    out["sizeInBytes"] = int(part.split()[0])
                elif part.endswith("rows"):
                    out["rowCount"] = int(part.split()[0])
    return out

