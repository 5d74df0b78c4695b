"""Seeded CDC change batches applied directly to the OLTP source's parquet.

The package's ``WorkloadGenerator`` seeds the client and product catalogs;
the base sales and every per-cycle batch are applied here with pyarrow, so
producing them costs milliseconds instead of a dozen Spark jobs. They follow
``WorkloadGenerator``'s distributions (reference ``data_generation.py``):

- an insert mints a new client with p=0.35 (gender M p=0.4, country uniform
  over the EU states), else picks an existing one; product uniform, paid =
  product price, or 0 with p=0.01; sale_date uniform in the last
  ``spread`` before ``now``;
- an update multiplies paid by 0.95 and stamps updated_date;
- a delete removes the sale and writes a tombstone to ``removed``.

Update and delete victims are drawn uniformly from all live sales, so they
spread over the whole history.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timedelta, timezone
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from bigdatapipelinepysparksqlserver_spark.workload import EU_COUNTRIES

TS = pa.timestamp("us", tz="UTC")
CENT = Decimal("0.01")
SALES = pa.schema([
    ("id", pa.int64()), ("sale_date", TS), ("year_month", pa.int32()),
    ("paid", pa.decimal128(18, 2)), ("client_id", pa.int64()), ("product_id", pa.int64()),
    ("updated_date", TS),
])


def _epoch_us(naive: datetime) -> int:
    # naive datetimes mean what Spark makes of them: local wall-clock time
    return round(naive.timestamp() * 1_000_000)


def _year_month(us: np.ndarray) -> np.ndarray:
    """``year*100 + month`` of UTC instants (the session time zone is UTC)."""
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    return np.array([(d.year * 100 + d.month) for d in
                     (epoch + timedelta(microseconds=int(u)) for u in us)], dtype=np.int32)


def _read(path: str) -> pa.Table:
    t = pq.read_table(path)
    return t.cast(pa.schema([
        pa.field(f.name, TS if pa.types.is_timestamp(f.type) else f.type) for f in t.schema
    ]))


def _replace(path: str, table: pa.Table) -> None:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    shutil.rmtree(path)
    os.rename(tmp, path)


def apply_batch(src_root: str, rng: np.random.Generator, counts: dict, now: datetime,
                spread: timedelta, stamp: datetime, tag: int) -> dict:
    """Apply one batch of ``counts`` (inserts/updates/deletes) to the source
    under ``src_root``; returns the counts applied."""
    paths = {n: os.path.join(src_root, n) for n in ("sales", "clients", "products", "removed")}
    if os.path.isdir(paths["sales"]):
        sales = _read(paths["sales"]).select(SALES.names)
    else:
        os.makedirs(paths["sales"])
        sales = SALES.empty_table()
    max_sale = pc.max(sales["id"]).as_py() or 0
    max_client = pc.max(_read(paths["clients"])["id"]).as_py()
    products = _read(paths["products"])
    prices = dict(zip(products["id"].to_pylist(), products["price"].to_pylist()))

    n = counts["inserts"]
    is_new = rng.random(n) < 0.35
    new_ids = max_client + np.cumsum(is_new)
    client = np.where(is_new, new_ids, rng.integers(1, max_client + 1, n))
    product = rng.integers(1, len(prices) + 1, n)
    promo = rng.random(n) < 0.01
    paid = [Decimal(0).quantize(CENT) if p else prices[int(i)] for p, i in zip(promo, product)]
    sale_us = _epoch_us(now) - (rng.random(n) * spread.total_seconds() * 1e6).astype(np.int64)
    k_new = int(is_new.sum())
    new_clients = pa.table({
        "id": pa.array(new_ids[is_new], pa.int64()),
        "gender": pa.array(np.where(rng.random(k_new) < 0.4, "M", "F")),
        "country": pa.array(np.asarray(EU_COUNTRIES)[rng.integers(0, len(EU_COUNTRIES), k_new)]),
    })
    inserts = pa.table({
        "id": pa.array(max_sale + 1 + np.arange(n), pa.int64()),
        "sale_date": pa.array(sale_us, TS),
        "year_month": pa.array(_year_month(sale_us), pa.int32()),
        "paid": pa.array(paid, SALES.field("paid").type),
        "client_id": pa.array(client, pa.int64()),
        "product_id": pa.array(product, pa.int64()),
        "updated_date": pa.nulls(n, TS),
    })

    live = sales.num_rows
    upd = np.zeros(live, bool)
    upd[rng.choice(live, counts["updates"], replace=False)] = True
    dele = np.zeros(live, bool)
    dele[rng.choice(live, counts["deletes"], replace=False)] = True
    stamp_us = pa.scalar(_epoch_us(stamp), TS)
    paid_now = sales["paid"].to_pylist()
    new_paid = [(p * Decimal("0.95")).quantize(CENT, ROUND_HALF_UP) if u else p
                for p, u in zip(paid_now, upd)]
    sales = sales.set_column(sales.schema.get_field_index("paid"), "paid",
                             pa.array(new_paid, SALES.field("paid").type))
    sales = sales.set_column(
        sales.schema.get_field_index("updated_date"), "updated_date",
        pc.if_else(pa.array(upd), stamp_us, sales["updated_date"]))
    victims = sales.filter(pa.array(dele))
    tombstones = pa.table({
        "table": pa.array(["sales"] * victims.num_rows),
        "id": victims["id"],
        "record_date": victims["sale_date"],
        "year_month": victims["year_month"],
        "deleted_date": pa.array([_epoch_us(stamp)] * victims.num_rows, TS),
    })

    _replace(paths["sales"], pa.concat_tables([sales.filter(pa.array(~dele)), inserts]))
    pq.write_table(new_clients, os.path.join(paths["clients"], f"part-batch{tag}.parquet"))
    os.makedirs(paths["removed"], exist_ok=True)
    pq.write_table(tombstones, os.path.join(paths["removed"], f"part-batch{tag}.parquet"))
    return {"inserts": n, "updates": int(upd.sum()), "deletes": int(dele.sum())}
