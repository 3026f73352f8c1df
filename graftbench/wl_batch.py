"""``batch_pipeline``: the reference's ELT lifecycle plus downstream
warehouse and corpus-curation queries, one client.

A round is the ELT ops (``elt_ops``: extracts to csv and ndjson, a Bulk SOQL
extract, schema reconciliation with describe() drift, a CDC merge and
upsert micro-batches), then the registry queries (``registry_ops``) in a
seeded order. Whole rounds are timed until the time is up, four at least,
and nothing is warmed up: like a scheduled Airflow task, each run is a fresh
process whose first round pays the JIT and first-use costs of every op type
(codegen, Python workers, the first write of each sink). Timing every round
also puts as much of the run as the budget allows under measurement, which
averages out more of the host's speed changes than an untimed warm-up would.

Inputs are sf0.1-shaped tables with the fact tables cut to a quarter, a
fifth of the documents with a recorded share of near-duplicates injected,
and a quarter of the embeddings.
"""

from __future__ import annotations

from graftbench import datagen, elt_ops, registry_ops
from graftbench.checks import Oracle
from graftbench.harness import Ctx, run_rounds

SCALE = {"lineitem": 0.25, "orders": 0.25, "events": 0.25,
         "documents": 0.2, "embeddings": 0.25}
DUP_RATE = 0.1
#: rounds timed at least: 48 ops, so the tail is a high percentile and the
#: median falls among the warm rounds' ops rather than between them and
#: the cold round's
MIN_ROUNDS = 4


def prepare(ctx: Ctx) -> dict:
    data_dir = f"{ctx.work_dir}/data"
    tables = datagen.gen_tables(ctx.seed, SCALE, dup_rate=DUP_RATE)
    ctx.props["tables"] = datagen.write_tables(tables, data_dir)
    _, pairs = datagen.gen_documents(ctx.seed, tables["documents"].num_rows, DUP_RATE)
    ctx.props["documents_dup_rate"] = DUP_RATE
    ctx.props["documents_dup_pairs"] = len(pairs)
    st = elt_ops.prepare(ctx, tables, data_dir)
    st["dup_pairs"] = pairs
    return st


def _round(ctx: Ctx, st: dict, r: int):
    rng = datagen.rng_for(ctx.seed, "query-order", str(r))
    order = [int(i) for i in rng.permutation(len(registry_ops.QUERIES))]
    return elt_ops.round_ops(ctx, st, r) + registry_ops.round_ops(ctx, st["data_dir"], order, r)


def warmup(ctx: Ctx, st: dict) -> None:
    """Nothing: the first timed round is the cold one (see the module
    docstring)."""


def measure(ctx: Ctx, st: dict):
    results, elapsed = run_rounds(ctx, lambda r: _round(ctx, st, r), "timed",
                                  min_rounds=MIN_ROUNDS)
    ctx.props["rounds"] = len(st["rounds"])
    elt_ops.layer_metrics(ctx, st, results)
    return results, elapsed


def check(ctx: Ctx, st: dict, results) -> None:
    if ctx.tracer.enabled:
        # after the timed rounds, so the traced run's cold round is as cold
        # as the untraced run's
        registry_ops.dedup_quality(ctx, st["data_dir"], st["dup_pairs"])
    oracle = Oracle(st["data_dir"])
    try:
        elt_ops.check(ctx, st, results, oracle)
        registry_ops.check(results, oracle)
    finally:
        oracle.close()
        elt_ops.drop_tables(ctx, st)
