"""Registry queries (``conformance.QUERIES``) as benchmark ops.

Each op builds the registered query and collects it; the check compares
the rowset with the query's ``conformance.ORACLES`` SQL run by DuckDB over
the same generated parquet.
"""

from __future__ import annotations

import os
import tempfile

from graftbench.checks import check_all, digest
from graftbench.harness import Ctx, Op

#: relational: scan, shuffle and join execution, little plans-layer time
RELATIONAL = ["q_tpch_q3"]
#: corpus curation: functions/ (minhash/LSH, text, vector) and UDF work
CURATION = ["q_training_corpus", "q_near_dedup", "q_embed_topk"]
QUERIES = RELATIONAL + CURATION


def round_ops(ctx: Ctx, data_dir: str, order: list[int], r: int) -> list[Op]:
    from salesforce_plugin_spark.conformance import QUERIES as REGISTRY

    def make(name):
        def fn():
            # registry entries that write use tempfile.gettempdir(): a fresh
            # directory per op keeps runs and ops from colliding
            tempfile.tempdir = ctx.op_dir(name)
            os.makedirs(tempfile.tempdir)
            df = REGISTRY[name](ctx.spark, data_dir)
            with ctx.tracer.span("exec.action"):
                rows = df.collect()
            return digest(df.columns, rows)
        return fn

    return [Op(QUERIES[i], QUERIES[i], make(QUERIES[i]), meta={"round": r}) for i in order]


def check(results, oracle) -> None:
    from salesforce_plugin_spark.conformance import ORACLES

    mine = [r for r in results if r.kind in QUERIES]
    expected = {r.key: oracle.digest(ORACLES[r.key]) for r in mine if r.error is None}
    check_all(mine, expected)


def dedup_quality(ctx: Ctx, data_dir: str, pairs: list[tuple[int, int]]) -> None:
    """LSH candidate pairs over the documents, and the share of them that
    are injected near-duplicate pairs (the generator's ground truth). Runs
    untraced, so its calls do not count toward the timed ops' layer times."""
    from salesforce_plugin_spark.functions import dedup
    from salesforce_plugin_spark.sources import catalog

    tracing, ctx.tracer.enabled = ctx.tracer.enabled, False
    try:
        docs = catalog.load_table(ctx.spark, data_dir, "documents")
        sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=16)
        cands = {(r.id_a, r.id_b)
                 for r in dedup.lsh_candidate_pairs(sigs, "doc_id").collect()}
    finally:
        ctx.tracer.enabled = tracing
    truth = {(min(a, b), max(a, b)) for a, b in pairs}
    ctx.layer["functions.dedup.candidate_pairs"] = len(cands)
    ctx.layer["functions.dedup.true_pair_share"] = len(cands & truth) / max(1, len(cands))
