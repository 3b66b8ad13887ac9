"""Seeded nested-JSON tick generator for the ETL workloads.

Built with pyarrow and numpy, never Spark, so the program's session
starts cold. The rows come from the committed TPC-H-shaped tables in
``perfbench/data`` (orders, lineitem, customer, at scale factor 0.01).
Each order is used ``REPLICAS`` times, replica ``r`` under the order key
``o_orderkey + r * stride`` with ``stride`` above every committed key, so
the seven data ticks carry about 11 k orders (43 k flattened rows)
each, close to one day of an sf0.1 load. Each replica becomes one JSON record::

    {"orderKey", "customerid", "vehicle", "category", "tts",
     "order": {..., "customer": {...}}, "items": [{...}, ...]}

``items`` is the array ``flatten`` explodes; ``customerid``,
``vehicle`` and ``category`` are the partition keys. Orders go to ticks
by a seeded hash of the replica's order key, so every tick sees every partition
key. Each tick covers one UTC day of ``tts``.

The drift schedule is fixed and the same in both ETL workloads:

* tick 0 creates the table (``created``);
* ``DRIFT_ADD`` adds the nested field ``order.customer.tier``
  (``drift-recreated``);
* ``DRIFT_DROP`` drops it again (``partitions-only``: the sink keeps
  the wider schema);
* ``EMPTY`` writes a zero-row file (``no-op``; the file is still
  archived);
* every other tick is ``partitions-only``.
"""

from __future__ import annotations

import contextlib
import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow.parquet as pq

N_TICKS = 8
REPLICAS = 5
DRIFT_ADD = 2
DRIFT_DROP = 3
EMPTY = 5
# 2024-03-01T00:00:00Z: tick t covers the day starting t days later.
DAY0 = int(datetime(2024, 3, 1, tzinfo=timezone.utc).timestamp())
N_CUSTOMER_IDS = 2
VEHICLES = ["van", "truck", "bike"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def expected_actions() -> list[str]:
    actions = []
    for t in range(N_TICKS):
        if t == 0:
            actions.append("created")
        elif t == DRIFT_ADD:
            actions.append("drift-recreated")
        elif t == EMPTY:
            actions.append("no-op")
        else:
            actions.append("partitions-only")
    return actions


def _seeded_hash(keys: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 of ``key ^ seed``: a stateless, seeded hash."""
    with np.errstate(over="ignore"):
        x = keys.astype(np.uint64) ^ np.uint64(
            (seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        )
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


def _data_ticks() -> list[int]:
    return [t for t in range(N_TICKS) if t != EMPTY]


def generate(data_dir: str, out_dir: str, seed: int) -> dict:
    """Write tick ``t``'s JSON lines to ``out_dir/tick_<t>/part-0.json``
    and return the manifest (also written to ``out_dir/manifest.json``)."""
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pydict()
    items = pq.read_table(os.path.join(data_dir, "lineitem.parquet")).to_pydict()
    customers = pq.read_table(os.path.join(data_dir, "customer.parquet")).to_pydict()

    cust = {
        k: {
            "custkey": k,
            "name": customers["c_name"][i],
            "nationkey": customers["c_nationkey"][i],
            "segment": customers["c_mktsegment"][i],
            "acctbal": customers["c_acctbal"][i],
        }
        for i, k in enumerate(customers["c_custkey"])
    }
    by_order: dict[int, list[dict]] = {}
    for i, ok in enumerate(items["l_orderkey"]):
        by_order.setdefault(ok, []).append({
            "linenumber": items["l_linenumber"][i],
            "partkey": items["l_partkey"][i],
            "suppkey": items["l_suppkey"][i],
            "quantity": items["l_quantity"][i],
            "extendedprice": items["l_extendedprice"][i],
            "discount": items["l_discount"][i],
            "tax": items["l_tax"][i],
            "returnflag": items["l_returnflag"][i],
            "linestatus": items["l_linestatus"][i],
            "shipdate": items["l_shipdate"][i].strftime("%Y-%m-%d"),
        })
    for lines in by_order.values():
        lines.sort(key=lambda r: r["linenumber"])

    base = np.asarray(orders["o_orderkey"], dtype=np.int64)
    stride = int(base.max()) + 1
    keys = (base[None, :] + stride * np.arange(REPLICAS, dtype=np.int64)[:, None]).ravel()
    h = _seeded_hash(keys, seed)
    data_ticks = _data_ticks()
    tick_of = np.asarray(data_ticks)[(h % np.uint64(len(data_ticks))).astype(np.int64)]
    offset = ((h >> np.uint64(20)) % np.uint64(86400)).astype(np.int64)

    # The parts of a record its replicas share, serialized once.
    days = [datetime.fromtimestamp(DAY0 + t * 86400, tz=timezone.utc) for t in range(N_TICKS)]
    shared = []
    for i, ok in enumerate(base.tolist()):
        order = {
            "status": orders["o_orderstatus"][i],
            "totalprice": orders["o_totalprice"][i],
            "orderdate": orders["o_orderdate"][i].strftime("%Y-%m-%d"),
            "priority": orders["o_orderpriority"][i],
            "customer": cust[orders["o_custkey"][i]],
        }
        customerid = orders["o_custkey"][i] % N_CUSTOMER_IDS
        vehicle = VEHICLES[PRIORITIES.index(orders["o_orderpriority"][i]) % len(VEHICLES)]
        category = orders["o_orderstatus"][i]
        shared.append((
            order,
            f'"customerid":{customerid},"vehicle":"{vehicle}","category":"{category}"',
            f"customerid={customerid}/vehicle={vehicle}/category={category}",
            _dumps(order),
            _dumps(by_order.get(ok, [])),
        ))

    paths = {t: os.path.join(out_dir, f"tick_{t:02d}", "part-0.json") for t in range(N_TICKS)}
    counts = dict.fromkeys(range(N_TICKS), 0)
    partitions: set[str] = set()
    with contextlib.ExitStack() as stack:
        files = {}
        for t, path in paths.items():
            os.makedirs(os.path.dirname(path))
            files[t] = stack.enter_context(open(path, "w"))
        for ok, t, off, (order, keys_json, part, order_json, items_json) in zip(
            keys.tolist(), tick_of.tolist(), offset.tolist(), shared * REPLICAS
        ):
            if t == DRIFT_ADD:
                tier = ("gold", "silver", "bronze")[ok % 3]
                order_json = _dumps({
                    **order, "customer": {**order["customer"], "tier": tier},
                })
            files[t].write(
                f'{{"orderKey":{ok},{keys_json},"tts":{DAY0 + t * 86400 + off},'
                f'"order":{order_json},"items":{items_json}}}\n'
            )
            counts[t] += 1
            partitions.add(f"{part}/year={days[t].year}/month={days[t].month}/day={days[t].day}")

    ticks = [
        {"tick": t, "file": path, "records": counts[t], "bytes": os.path.getsize(path)}
        for t, path in paths.items()
    ]
    manifest = {
        "seed": seed,
        "ticks": ticks,
        "actions": expected_actions(),
        "partitions": sorted(partitions),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest
