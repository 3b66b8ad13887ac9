"""ETL workloads: consecutive scheduled-batch ticks (``run_batch``).

One episode is the ``gen.N_TICKS`` generated ticks run in order against
a fresh source dir, sink and catalog database, in one long-lived
session. ``--seconds`` buys ``max(1, seconds // EPISODE_S)``
episodes. A tick is timed from the call into ``run_batch`` to its
return; copying the tick's file into the source dir is not timed.

Before the first episode, as part of the set-up, the first
``WARMUP_TICKS`` data ticks run into a sink and catalog database of
their own: class loading and JIT compilation of the tick's code paths,
one-off costs of a fresh session that would otherwise spread over the
first ticks of the episode, land in ``setup_s``.

After each episode, untimed, four checks run:

1. the catalog actions equal the manifest's drift schedule;
2. the catalog table's row count, Σ quantity, Σ extended price and
   distinct order keys equal DuckDB's over the committed tables;
3. ``SHOW PARTITIONS`` equals the generated partition tuples;
4. the source dir is empty and every tick's file is in the archive.

A tick that raises, and every tick of an episode whose checks fail,
counts as failed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.config import (
    EtlConfig,
)
from aws_etl_architecture_schedule_based_batch_optimized_emr_etl_using_lambda_with_cloud_watch_logs_spark.plans import (
    pipeline,
)

TABLE_PREFIX = "bench"
# Nominal seconds of one episode at 4 cores.
EPISODE_S = 30
WARMUP_TICKS = 2
CHECKSUM_SQL = """
SELECT count(*) AS n,
       sum(CAST({qty} AS DECIMAL(20, 2))) AS qty,
       sum(CAST({price} AS DECIMAL(20, 2))) AS price,
       count(DISTINCT {key}) AS orders
FROM {table}
"""


@dataclass
class Prepared:
    manifest: dict
    checksum: tuple
    input_bytes: int
    input_records: int


@dataclass
class Episode:
    config: EtlConfig
    tick_s: list[float] = field(default_factory=list)
    actions: list[str] = field(default_factory=list)
    failed_ticks: int = 0
    problems: list[str] = field(default_factory=list)
    input_records: int = 0
    input_bytes: int = 0
    sink_bytes: int = 0


@dataclass
class Result:
    episodes: list[Episode] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    @property
    def op_s(self) -> list[float]:
        return [s for ep in self.episodes for s in ep.tick_s]

    @property
    def pass_s(self) -> list[float]:
        return [sum(ep.tick_s) for ep in self.episodes]

    def check(self, run, prepared: Prepared) -> None:
        for ep in self.episodes:
            ep.problems += check_episode(run.spark, ep, prepared)
            n = len(ep.tick_s)
            self.attempted += n
            self.failed += n if ep.problems else ep.failed_ticks
            for problem in ep.problems:
                print(f"perfbench: CHECK FAILED: {problem}", file=sys.stderr)


def oracle_checksum(data_dir: str, replicas: int) -> tuple:
    """Row count and checksum of the flattened sink, from DuckDB over
    the committed tables: one row per line item, one per order that
    has none, each order ``replicas`` times."""
    import duckdb

    con = duckdb.connect()
    try:
        o = os.path.join(data_dir, "orders.parquet")
        li = os.path.join(data_dir, "lineitem.parquet")
        table = (
            f"read_parquet('{o}') o LEFT JOIN read_parquet('{li}') l "
            "ON l.l_orderkey = o.o_orderkey"
        )
        row = con.sql(CHECKSUM_SQL.format(
            qty="l_quantity", price="l_extendedprice", key="o_orderkey",
            table=table,
        )).fetchone()
    finally:
        con.close()
    return tuple(int(v) if v == int(v) else v for v in (x * replicas for x in row))


def prepare(data_dir: str, work_dir: str, seed: int, seconds: float) -> Prepared:
    """Generate the ticks and the oracle checksum. Runs in a child
    process, so its memory is not in the run's peak RSS."""
    import gen

    gen_dir = os.path.join(work_dir, "gen")
    os.makedirs(gen_dir)
    manifest = gen.generate(data_dir, gen_dir, seed)
    return Prepared(
        manifest=manifest,
        checksum=oracle_checksum(data_dir, gen.REPLICAS),
        input_bytes=sum(t["bytes"] for t in manifest["ticks"]),
        input_records=sum(t["records"] for t in manifest["ticks"]),
    )


def _config(run, name: str) -> EtlConfig:
    base = os.path.join(run.dir, "etl", name)
    os.makedirs(os.path.join(base, "source"))
    return EtlConfig(
        source_path=os.path.join(base, "source"),
        sink_path=os.path.join(base, "sink"),
        catalog_db_name=f"perfbench_{name}",
        catalog_table_prefix=TABLE_PREFIX,
        drift_mode=run.args.workload.split("_", 1)[1],
    )


def warmup(run, prepared: Prepared) -> None:
    """The first data ticks into a sink of their own, unchecked."""
    config = _config(run, "warmup")
    ticks = [t for t in prepared.manifest["ticks"] if t["records"]]
    for tick in ticks[:WARMUP_TICKS]:
        shutil.copy(tick["file"], config.source_path)
        pipeline.run_batch(run.spark, config)


def run_episode(run, prepared: Prepared, name: str, tracer) -> Episode:
    config = _config(run, name)
    source = config.source_path
    ep = Episode(config=config, input_records=prepared.input_records,
                 input_bytes=prepared.input_bytes)
    for tick in prepared.manifest["ticks"]:
        shutil.copy(tick["file"], os.path.join(source, f"tick_{tick['tick']:02d}.json"))
        if tracer is not None:
            tracer.begin_tick(config)
        t0 = time.perf_counter()
        try:
            result = pipeline.run_batch(run.spark, config)
            action = result.catalog_action
        except Exception:  # noqa: BLE001 - a failed tick is counted, not fatal
            traceback.print_exc()
            action = "error"
            ep.failed_ticks += 1
        ep.tick_s.append(time.perf_counter() - t0)
        ep.actions.append(action)
        if tracer is not None:
            tracer.end_tick(config)
    ep.sink_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(config.sink_path)
        for f in names if f.endswith(".parquet")
    )
    return ep


def measure(run, prepared: Prepared, tracer) -> Result:
    result = Result()
    for k in range(max(1, int(run.args.seconds // EPISODE_S))):
        result.episodes.append(run_episode(run, prepared, f"ep{k}", tracer))
        if tracer is not None:
            tracer.end_pass()
    return result


def check_episode(spark, ep: Episode, prepared: Prepared) -> list[str]:
    problems = []
    manifest = prepared.manifest
    if ep.actions != manifest["actions"]:
        problems.append(f"actions {ep.actions} != {manifest['actions']}")
    cfg = ep.config
    table = f"`{cfg.catalog_db_name}`.`{cfg.catalog_table_prefix}_sink`"
    try:
        row = spark.sql(CHECKSUM_SQL.format(
            qty="itemsQuantity", price="itemsExtendedprice", key="orderKey",
            table=table,
        )).collect()[0]
        got = tuple(int(v) if v == int(v) else v for v in row)
        if got != prepared.checksum:
            problems.append(f"table checksum {got} != oracle {prepared.checksum}")
        parts = sorted(r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect())
        if parts != manifest["partitions"]:
            problems.append(
                f"SHOW PARTITIONS: {len(parts)} partitions, expected "
                f"{len(manifest['partitions'])}"
            )
    except Exception as exc:  # noqa: BLE001 - a missing table is a failed check
        problems.append(f"catalog table unreadable: {exc}")
    left = os.listdir(cfg.source_path)
    if left:
        problems.append(f"source dir not empty: {left}")
    archive = f"{cfg.source_path.rstrip('/')}_{cfg.archival_folder}"
    archived = set(os.listdir(archive)) if os.path.isdir(archive) else set()
    want = {f"tick_{t['tick']:02d}.json" for t in manifest["ticks"]}
    if archived != want:
        problems.append(f"archive holds {sorted(archived)}, expected {sorted(want)}")
    return problems
