"""query_mix workload: the query gates of ``bench.HEADLINE`` in one
long-lived session.

A pass runs ``GATES``, a fixed subset of ``bench.HEADLINE`` (imported
and not edited), in an order the seed permutes. The subset keeps the
iterative BPE training (jobs launched while its plan is built), a
streaming drain, cheap gates over further ``operators`` modules and relational
gates; the whole list takes about 150 s at 4 cores, too long for one
run. Each gate is timed from the call that builds its plan to the end
of ``collect()``, the action that materializes its full result
(``count()`` would let Catalyst prune result columns it never reads).

Before the first pass, as part of the set-up, one unchecked round runs
``GATES`` in list order: it starts the Python workers, loads the
documents table, starts the streaming engine and compiles each gate's
plan once, one-off costs of a fresh session that would otherwise land on
the gates of the first pass. ``--seconds`` buys
``max(1, seconds // PASS_S)`` passes.

Correctness, untimed: each collected result must equal the gate's
DuckDB ``oracle_sql()`` result under ``tools/check_oracle.py``'s
normalization (column names, row count, dtypes, bit-exact values,
order-insensitive). The oracle runs before the session starts; every
gate in ``GATES`` has one.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb

import __spark_entry__ as entry
import bench
from tools import check_oracle

# Nominal seconds of one pass at 4 cores.
PASS_S = 30
GATES = [
    # iterative operator: jobs launched while the plan is built
    "bpe_vocab_docs",
    # streaming.run_to_memory drain
    "stream_dedup_counts",
    # cheap gates over further operators modules
    "text_pii_redact",          # text
    "chunk_docs_rag",           # dedup, packing
    "reservoir_sample_docs",    # mixing
    "k_anonymity_customers",    # governance
    "embed_label_stats",        # similarity
    # relational
    "q1_pricing_summary",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q13_order_distribution",
    "q18_large_orders",
    "window_rank_customers",
    "join_anti_customers",
    "join_semi_suppliers",
    "rollup_orders",
    "percentile_orders",
    "string_funcs_parts",
    "date_funcs_orders",
    "topk_orders",
]
TABLES = check_oracle.TABLES


@dataclass
class Expected:
    cols: list[str] | None = None
    types: list[str] | None = None
    digest: str | None = None
    rows: int | None = None
    error: str | None = None


@dataclass
class Prepared:
    orders: list[list[str]]
    expected: dict[str, Expected]


@dataclass
class Result:
    op_s: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    outcomes: list[tuple[str, str]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def check(self, run, prepared) -> None:
        self.attempted = len(self.outcomes)
        bad = [(n, s) for n, s in self.outcomes if s != "OK"]
        self.failed = len(bad)
        for name, status in bad:
            print(f"perfbench: GATE FAILED: {name}: {status}", file=sys.stderr)


def digest(rows, cols_order) -> str:
    keys = sorted(check_oracle.row_key(r, cols_order) for r in rows)
    return hashlib.sha256(repr(keys).encode()).hexdigest()


def prepare(data_dir: str, work_dir: str, seed: int, seconds: float) -> Prepared:
    """Gate orders and oracle digests. Runs in a child process, so its
    memory is not in the run's peak RSS."""
    stray = set(GATES) - set(bench.HEADLINE)
    if stray:
        raise ValueError(f"not in bench.HEADLINE: {sorted(stray)}")
    passes = max(1, int(seconds // PASS_S))
    orders = []
    for p in range(passes):
        order = list(GATES)
        random.Random(seed * 1009 + p).shuffle(order)
        orders.append(order)
    oracles = entry.oracle_sql()
    expected: dict[str, Expected] = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
        for name in GATES:
            try:
                res = con.sql(oracles[name])
                cols, types = list(res.columns), [str(t) for t in res.types]
                rows = res.fetchall()
            except duckdb.Error as exc:
                expected[name] = Expected(error=f"ORACLE-ERROR: {exc}"[:300])
                continue
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            expected[name] = Expected(cols=cols, types=types,
                                      digest=digest(rows, order), rows=len(rows))
    finally:
        con.close()
    return Prepared(orders=orders, expected=expected)


def verify(name: str, df, rows, exp: Expected) -> str:
    if exp.error:
        return exp.error
    cols = df.columns
    if sorted(cols) != sorted(exp.cols):
        return f"SCHEMA {sorted(cols)} != {sorted(exp.cols)}"
    if len(rows) != exp.rows:
        return f"COUNT {len(rows)} != {exp.rows}"
    bad = check_oracle.dtype_check(df.dtypes, exp.cols, exp.types)
    if bad:
        return f"DTYPE {bad}"
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    if digest([tuple(r) for r in rows], order) != exp.digest:
        return "VALUES differ from the oracle"
    return "OK"


def warmup(run, prepared: Prepared) -> None:
    queries = entry.queries()
    for name in GATES:
        queries[name](run.spark, run.data_dir).collect()


def measure(run, prepared: Prepared, tracer) -> Result:
    queries = entry.queries()
    result = Result()
    for order in prepared.orders:
        total = 0.0
        for name in order:
            elapsed, status = run_gate(run, queries[name], name, prepared, tracer)
            result.op_s.append(elapsed)
            result.outcomes.append((name, status))
            total += elapsed
        result.pass_s.append(total)
        if tracer is not None:
            tracer.end_pass()
    return result


def run_gate(run, fn, name: str, prepared: Prepared, tracer) -> tuple[float, str]:
    sf_dir = run.data_dir
    t0 = time.perf_counter()
    try:
        if tracer is None:
            df = fn(run.spark, sf_dir)
            rows = df.collect()
        else:
            with tracer.span(f"{name} plan", "gates.plan"):
                df = fn(run.spark, sf_dir)
            with tracer.span(f"{name} exec", "gates.exec"):
                rows = df.collect()
        elapsed = time.perf_counter() - t0
    except Exception as exc:  # noqa: BLE001 - a failed gate is counted
        traceback.print_exc()
        return time.perf_counter() - t0, f"ERROR {type(exc).__name__}: {str(exc)[:200]}"
    return elapsed, verify(name, df, rows, prepared.expected[name])
