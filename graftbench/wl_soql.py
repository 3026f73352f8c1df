"""``soql_frontdoor``: closed-loop clients sending seeded SOQL statements
through ``plans.soql_to_df`` over sf0.1-shaped tables, one client per core.

Short statements make parsing, lowering, catalog resolution and per-job
overhead dominate, and the clients contend for the one SparkSession. A recorded
share of statements exactly repeats an earlier one, so a plan or scan cache
would show its effect here.
"""

from __future__ import annotations

from graftbench import datagen
from graftbench.checks import Oracle, check_all, digest
from graftbench.harness import Ctx, Op, run_clients

REPEAT_SHARE = 0.3
STREAM_LEN = 4000
#: untimed load first: the steepest part of the JIT's speed-up; the rest
#: of the run's budget goes to the timed phase, whose length averages out
#: the host's speed changes
WARMUP_S = 10.0


def prepare(ctx: Ctx) -> dict:
    data_dir = f"{ctx.work_dir}/data"
    ctx.props["tables"] = datagen.write_tables(datagen.gen_tables(ctx.seed), data_dir)
    stream = datagen.gen_soql_stream(ctx.seed, STREAM_LEN, REPEAT_SHARE)
    warm = datagen.gen_soql_stream(ctx.seed, STREAM_LEN, REPEAT_SHARE, "soql-warmup")
    ctx.props["clients"] = ctx.cores
    ctx.props["templates"] = sorted(datagen.SOQL_TEMPLATES)
    return {"data_dir": data_dir, "stream": stream, "warm": warm}


def _ops(ctx: Ctx, data_dir: str, stream: list[dict]) -> list[Op]:
    from salesforce_plugin_spark import plans
    from salesforce_plugin_spark.sources import catalog

    spark = ctx.spark
    rels = catalog.fixture_relationships()

    def resolve(name):
        return catalog.load_table(spark, data_dir, name.lower())

    def make(stmt):
        def fn():
            df = plans.soql_to_df(
                spark, stmt["soql"], resolve=resolve, relationships=rels
            )
            with ctx.tracer.span("exec.action"):
                rows = df.collect()
            return digest(df.columns, rows)
        return fn

    return [Op(s["template"], s["sql"], make(s)) for s in stream]


def warmup(ctx: Ctx, st: dict) -> None:
    run_clients(ctx, _ops(ctx, st["data_dir"], st["warm"]), ctx.cores, "warm", WARMUP_S)


def measure(ctx: Ctx, st: dict):
    results, elapsed = run_clients(
        ctx, _ops(ctx, st["data_dir"], st["stream"]), ctx.cores, "timed", ctx.seconds
    )
    seen = set()
    repeats = 0
    for s in st["stream"][: len(results)]:
        repeats += s["sql"] in seen
        seen.add(s["sql"])
    ctx.props["ops_run"] = len(results)
    ctx.props["repeat_share_run"] = repeats / max(1, len(results))
    return results, elapsed


def check(ctx: Ctx, st: dict, results) -> None:
    oracle = Oracle(st["data_dir"])
    try:
        expected = {r.key: oracle.digest(r.key) for r in results if r.error is None}
    finally:
        oracle.close()
    check_all(results, expected)
