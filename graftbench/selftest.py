"""Self-test of the benchmark's own machinery (no Spark needed).

    python3 graftbench/selftest.py

Checks that the generator is deterministic, that a wrong result and a
raising op are both counted as failed, that the names the benchmark prints
match BENCHMARK.json, and that ``latency_tail_s`` names its percentile and
sample count. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_generator_is_deterministic() -> None:
    from graftbench import datagen, elt_ops

    with tempfile.TemporaryDirectory() as tmp:
        digests = []
        for run, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(tmp, run)
            tables = datagen.gen_tables(seed, {"lineitem": 0.02, "orders": 0.02}, dup_rate=0.1)
            datagen.write_tables(tables, d)
            for i, b in enumerate(datagen.gen_upsert_batches(
                    seed, 10_000, 4, [500, 200], [4, 1])):
                datagen.write_tables({f"upsert_{i}": b}, d)
            datagen.write_tables({"cdc": datagen.gen_cdc_feed(seed, 3000, 400)}, d)
            extra = json.dumps([
                datagen.gen_soql_stream(seed, 200, 0.3),
                datagen.gen_describe_drift(seed),
                datagen.gen_documents(seed, 300, 0.1)[1],
            ])
            digests.append((datagen.tree_digest(d), extra))
        assert digests[0] == digests[1], "same seed gave different inputs"
        assert digests[0][0] != digests[2][0], "different seeds gave the same tables"
        assert digests[0][1] != digests[2][1], "different seeds gave the same streams"
    # injected repeats are exact copies of earlier statements; fresh draws
    # from a template with few constants can repeat too, so the share of
    # exact repeats is at least the injected one
    stream = datagen.gen_soql_stream(3, 500, 0.3)
    seen, repeats = set(), 0
    for s in stream:
        repeats += s["sql"] in seen
        seen.add(s["sql"])
    assert repeats / len(stream) > 0.25, repeats
    assert elt_ops.UPSERT_SPANS and max(elt_ops.UPSERT_SPANS) == elt_ops.N_BUCKETS


def test_wrong_result_counts_as_failed() -> None:
    from graftbench.checks import check_all, digest
    from graftbench.harness import Ctx, Op, failed_ops, run_one
    from graftbench.trace import Tracer

    class _Spark:
        sparkContext = None

    ctx = Ctx(_Spark(), tempfile.gettempdir(), 0, 1.0, Tracer(False), 1)
    good = digest(["a", "b"], [(1, "x"), (2, "y")])
    ops = [
        Op("q", "right", lambda: digest(["b", "a"], [("y", 2), ("x", 1)])),
        Op("q", "wrong", lambda: digest(["a", "b"], [(1, "x"), (2, "z")])),
        Op("q", "raises", lambda: 1 / 0),
    ]
    results = [run_one(ctx, op, f"t-{i}") for i, op in enumerate(ops)]
    check_all(results, {"right": good, "wrong": good, "raises": good})
    failed = {r.key for r in failed_ops(results)}
    assert failed == {"wrong", "raises"}, failed
    assert "ZeroDivisionError" in results[2].error


def test_names_match_benchmark_json() -> None:
    from graftbench import layers, run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert spec["command"] == ["python3", "graftbench/run.py"]


def test_tail_names_percentile_and_samples() -> None:
    from graftbench.harness import OpResult, latency_metrics, tail, tail_note

    value, pct, n = tail([float(i) for i in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)
    results = [OpResult("q", "k", str(i), 0.0, i / 10) for i in range(1, 41)]
    lat = latency_metrics(results, 10.0)
    assert lat["latency_tail_s"] == 3.0 and lat["tail_samples"] == 40
    note = tail_note(lat)
    assert "p75.0" in note and "40 samples" in note, note
    try:
        tail([1.0] * 10)
    except ValueError:
        pass
    else:
        raise AssertionError("a tail over 10 samples must be refused")


def test_ops_per_s_is_ops_over_elapsed() -> None:
    from graftbench.harness import OpResult, latency_metrics

    results = [OpResult("q", "k", str(i), float(i), 0.5) for i in range(30)]
    assert latency_metrics(results, 12.0)["ops_per_s"] == 2.5


def test_injected_duplicates_are_recorded() -> None:
    from graftbench import datagen

    table, pairs = datagen.gen_documents(5, 400, 0.1)
    texts = table.column("text").to_pylist()
    assert len(pairs) == 40 and len({c for _, c in pairs}) == 40
    for src, copy in pairs:
        assert texts[copy] == texts[src] + " dup", (src, copy)
    assert all(10 <= len(t.split()) <= 101 for t in texts)


def main() -> int:
    sys.path.insert(0, ROOT)
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
        print(f"ok {t.__name__}")
    print(f"== {len(tests)} self-tests passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
