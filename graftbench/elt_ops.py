"""The reference's extract → load lifecycle as benchmark ops.

Per round, in order: ``ObjectExtract`` to csv and to ndjson, a
``BulkQueryExtract`` SOQL → ndjson, two ``SchemaReconcileLoad`` steps (the
second with seeded add-only describe() drift), ``merge.apply_changes`` of a
seeded CDC feed written to parquet, and ``streaming.upsert_batch``
micro-batches of which some touch few key-bucket partitions and some touch
all of them. Every op writes under its own fresh path; the reconcile steps
write a managed table named per run and round, dropped after the check.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from graftbench import datagen
from graftbench.harness import Ctx, Op, dir_bytes

N_BUCKETS = 16
UPSERT_KEYS = 400_000
UPSERT_SIZES = [30_000, 4_000]
UPSERT_SPANS = [16, 1]
CDC_CHANGES = 10_000

LINEITEM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
]
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
BULK_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
#: describe() soapType → the DuckDB type of the column the reconciled table
#: should hold (xsd:double with a precision is a DECIMAL)
SOAP_DUCKDB = {"int": "INTEGER", "string": "VARCHAR", "phone": "VARCHAR",
               "boolean": "BOOLEAN", "date": "DATE", "double": "DOUBLE"}
MERGE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]
UPSERT_COLS = ["k", "v", "tag", "ver", "bucket"]
KINDS = ("extract_csv", "extract_ndjson", "bulk_ndjson", "reconcile_create",
         "reconcile_drift", "cdc_merge", "upsert_batch")


def _parquet_bytes(table: pa.Table) -> int:
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    return sink.getvalue().size


def prepare(ctx: Ctx, tables: dict[str, pa.Table], data_dir: str) -> dict:
    """Write the change feeds and drifted records next to ``data_dir``."""
    inputs = f"{ctx.work_dir}/inputs"
    os.makedirs(inputs)
    r = datagen.rng_for(ctx.seed, "customer-drift-values")
    cust = tables["customer"]
    n = cust.num_rows
    v2 = cust.append_column("c_phone", pa.array([f"555-{i:04d}" for i in r.integers(0, 10_000, n)]))
    v2 = v2.append_column("c_rating", pa.array(np.round(r.uniform(0, 5, n), 2)))
    v2 = v2.append_column("c_active", pa.array(r.random(n) < 0.5))
    v2 = v2.append_column("c_since", pa.array(r.integers(9000, 19000, n).astype("datetime64[D]")))
    describe_v1, describe_v2 = datagen.gen_describe_drift(ctx.seed)
    v2 = v2.select([f["name"] for f in describe_v2])
    pq.write_table(v2, f"{inputs}/customer_v2.parquet")
    cdc = datagen.gen_cdc_feed(ctx.seed, tables["orders"].num_rows, CDC_CHANGES)
    pq.write_table(cdc, f"{inputs}/cdc.parquet")
    batches = datagen.gen_upsert_batches(
        ctx.seed, UPSERT_KEYS, N_BUCKETS, UPSERT_SIZES, UPSERT_SPANS
    )
    for i, b in enumerate(batches):
        pq.write_table(b, f"{inputs}/upsert_{i}.parquet")
    thresholds = np.round(datagen.rng_for(ctx.seed, "bulk").uniform(250_000, 450_000, 64), 2)
    src_bytes = {
        "csv": _parquet_bytes(tables["lineitem"].select(LINEITEM_COLS)),
        "ndjson": _parquet_bytes(tables["orders"].select(ORDER_COLS)),
        "reconcile": _parquet_bytes(cust) + os.path.getsize(f"{inputs}/customer_v2.parquet"),
        "merge": os.path.getsize(f"{inputs}/cdc.parquet"),
        "upsert": [os.path.getsize(f"{inputs}/upsert_{i}.parquet") for i in range(len(batches))],
    }
    ctx.props.update({
        "describe_drift_added": [f["name"] for f in describe_v2[len(describe_v1):]],
        "cdc_changes": cdc.num_rows,
        "upsert_batch_rows": [b.num_rows for b in batches],
        "upsert_batch_partitions": UPSERT_SPANS,
        "upsert_partitions": N_BUCKETS,
    })
    return {
        "data_dir": data_dir, "inputs": inputs, "describe": (describe_v1, describe_v2),
        "thresholds": thresholds, "src_bytes": src_bytes, "rounds": [],
        "bulk_source": tables["orders"].select(BULK_COLS),
    }


def round_ops(ctx: Ctx, st: dict, r: int) -> list[Op]:
    from salesforce_plugin_spark.operators import elt, merge
    from salesforce_plugin_spark.sources import catalog
    from salesforce_plugin_spark.streaming import upsert

    spark, data_dir, inputs = ctx.spark, st["data_dir"], st["inputs"]

    def resolve(name):
        return catalog.load_table(spark, data_dir, name.lower())

    info = {
        "round": r,
        "csv": ctx.op_dir("csv"), "ndjson": ctx.op_dir("ndjson"),
        "bulk": ctx.op_dir("bulk"), "merge": ctx.op_dir("merge"),
        "upsert": ctx.op_dir("upsert"),
        "table": f"gb_customer_{os.getpid()}_{r}",
        "threshold": float(st["thresholds"][r % len(st["thresholds"])]),
    }
    st["rounds"].append(info)
    v1, v2 = st["describe"]

    def extract(kind):
        def fn():
            if kind == "csv":
                op = elt.ObjectExtract("lineitem", info["csv"], fields=LINEITEM_COLS,
                                       fmt="csv", resolve=resolve)
            elif kind == "ndjson":
                op = elt.ObjectExtract("orders", info["ndjson"], fields=ORDER_COLS,
                                       fmt="ndjson", resolve=resolve)
            else:
                op = elt.BulkQueryExtract(
                    f"SELECT {', '.join(BULK_COLS)} FROM Orders "
                    f"WHERE o_totalprice > {info['threshold']}",
                    info["bulk"], resolve=resolve,
                )
            with ctx.tracer.span("operators.elt.extract"):
                op.execute(spark)
        return fn

    def reconcile(describe, source_dir, name):
        def fn():
            df = catalog.load_table(spark, source_dir, name)
            with ctx.tracer.span("operators.elt.reconcile"):
                elt.SchemaReconcileLoad(info["table"], describe).execute(spark, df)
        return fn

    def cdc_merge():
        out = merge.apply_changes(
            resolve("orders"), catalog.load_table(spark, inputs, "cdc"),
            ["o_orderkey"], ["chg_seq"],
        )
        with ctx.tracer.span("exec.action"):
            out.write.mode("overwrite").parquet(info["merge"])

    def upsert_op(i):
        def fn():
            batch = catalog.load_table(spark, inputs, f"upsert_{i}")
            upsert.upsert_batch(info["upsert"], batch, ["k"], "ver", "bucket")
        return fn

    def upsert_after(i):
        def after(_):
            parts = pq.read_table(f"{inputs}/upsert_{i}.parquet", columns=["bucket"])
            rows = written = 0
            for b in set(parts.column("bucket").to_pylist()):
                d = f"{info['upsert']}/bucket={b}"
                written += dir_bytes(d)
                rows += sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                            for f in os.listdir(d) if f.endswith(".parquet"))
            return {"bytes": written, "rows_rewritten": rows, "rows_changed": parts.num_rows,
                    "batch": i}
        return after

    meta = {"round": r}
    ops = [
        Op("extract_csv", "lineitem->csv", extract("csv"), meta=meta),
        Op("extract_ndjson", "orders->ndjson", extract("ndjson"), meta=meta),
        Op("bulk_ndjson", "soql->ndjson", extract("bulk"), meta=meta),
        Op("reconcile_create", "customer", reconcile(v1, data_dir, "customer"), meta=meta),
        Op("reconcile_drift", "customer_v2", reconcile(v2, inputs, "customer_v2"), meta=meta),
        Op("cdc_merge", "orders+cdc", cdc_merge, meta=meta),
    ]
    ops += [
        Op("upsert_batch", f"batch{i}", upsert_op(i), upsert_after(i), meta=meta)
        for i in range(len(UPSERT_SIZES))
    ]
    return ops


def _warehouse_dir(spark) -> str:
    d = spark.conf.get("spark.sql.warehouse.dir")
    return d[len("file:"):] if d.startswith("file:") else d


def layer_metrics(ctx: Ctx, st: dict, results) -> None:
    """Write amplification: bytes the sinks and upsert tables wrote over
    the parquet bytes of the rows extracted or changed."""
    sb = st["src_bytes"]
    written = source = rewritten = changed = upsert_written = 0
    wh = _warehouse_dir(ctx.spark)
    orders = st["bulk_source"]
    for info in st["rounds"]:
        for key in ("csv", "ndjson", "merge", "bulk"):
            written += dir_bytes(info[key])
        source += sb["csv"] + sb["ndjson"] + sb["merge"]
        source += _parquet_bytes(orders.filter(
            pc.greater(orders["o_totalprice"], info["threshold"])))
        written += dir_bytes(os.path.join(wh, info["table"]))
        source += sb["reconcile"]
    for r in results:
        if r.kind == "upsert_batch" and r.error is None:
            upsert_written += r.value["bytes"]
            source += sb["upsert"][r.value["batch"]]
            rewritten += r.value["rows_rewritten"]
            changed += r.value["rows_changed"]
    written += upsert_written
    ctx.layer["elt.write_amp"] = written / source
    ctx.layer["streaming.upsert_batch.bytes_written"] = upsert_written
    ctx.layer["streaming.upsert.rows_rewritten_per_changed_row"] = rewritten / max(1, changed)


def _typed_columns(con, table: str, cols: list[str]) -> str:
    types = dict(con.execute(
        f"SELECT column_name, column_type FROM (DESCRIBE {table})").fetchall())
    return "{" + ", ".join(f"'{c}': '{types[c]}'" for c in cols) + "}"


def _described(field: dict, present: bool) -> str:
    """The select item of one describe() field as the reconciled table
    should hold it: cast to its type, strings cut to their length, NULL
    where the loaded records lack the field."""
    name, soap = field["name"], field["soapType"].split(":")[-1]
    sql_type = SOAP_DUCKDB[soap]
    if soap == "double" and field["precision"]:
        sql_type = f"DECIMAL({field['precision']}, {field['scale']})"
    if not present:
        return f"CAST(NULL AS {sql_type}) AS {name}"
    if sql_type == "VARCHAR" and field["length"]:
        return f"left(CAST({name} AS VARCHAR), {field['length']}) AS {name}"
    return f"CAST({name} AS {sql_type}) AS {name}"


def _reconciled_sql(st: dict) -> str:
    """Both loads of a round as DuckDB should see the table: the first
    describe's records with NULL in the drifted fields, then the drifted
    records."""
    v1, v2 = st["describe"]
    first = {f["name"] for f in v1}
    v1_sel = ", ".join(_described(f, f["name"] in first) for f in v2)
    v2_sel = ", ".join(_described(f, True) for f in v2)
    return (f"SELECT {v1_sel} FROM customer UNION ALL SELECT {v2_sel} "
            f"FROM read_parquet('{st['inputs']}/customer_v2.parquet')")


def check(ctx: Ctx, st: dict, results, oracle) -> None:
    """Read every round's outputs back and compare their fingerprints with
    the same relation computed by DuckDB from the inputs."""
    inputs, con = st["inputs"], oracle.con
    wh = _warehouse_dir(ctx.spark)
    fp = oracle.fingerprint
    li, od, bc = ", ".join(LINEITEM_COLS), ", ".join(ORDER_COLS), ", ".join(BULK_COLS)
    mc = ", ".join(MERGE_COLS)
    cust_cols = [f["name"] for f in st["describe"][1]]
    cc = ", ".join(cust_cols)
    csv_cols = _typed_columns(con, "lineitem", LINEITEM_COLS)
    nd_cols = _typed_columns(con, "orders", ORDER_COLS)
    bulk_cols = _typed_columns(con, "orders", BULK_COLS)
    n_b = len(UPSERT_SIZES)
    files = ", ".join(f"'{inputs}/upsert_{i}.parquet'" for i in range(n_b))
    upsert_sel = "SELECT k, v, tag, ver, CAST(bucket AS INTEGER) AS bucket"
    want = {
        "extract_csv": fp(f"SELECT {li} FROM lineitem", LINEITEM_COLS),
        "extract_ndjson": fp(f"SELECT {od} FROM orders", ORDER_COLS),
        "reconcile_drift": fp(_reconciled_sql(st), cust_cols),
        "cdc_merge": fp(
            f"""WITH c AS (SELECT * FROM read_parquet('{inputs}/cdc.parquet')),
                w AS (SELECT * FROM c QUALIFY row_number() OVER
                      (PARTITION BY o_orderkey ORDER BY chg_seq DESC) = 1)
            SELECT {mc} FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM c)
            UNION ALL SELECT {mc} FROM w WHERE op <> 'd'""", MERGE_COLS),
        "upsert_final": fp(
            f"{upsert_sel} FROM read_parquet([{files}]) "
            "QUALIFY row_number() OVER (PARTITION BY k ORDER BY ver DESC) = 1", UPSERT_COLS),
    }
    for info in st["rounds"]:
        ops = [r for r in results if r.kind in KINDS and r.meta["round"] == info["round"]]
        have = {
            "extract_csv": lambda: fp(
                f"SELECT {li} FROM read_csv('{info['csv']}/*.csv', header=true, "
                f"columns={csv_cols})", LINEITEM_COLS),
            "extract_ndjson": lambda: fp(
                f"SELECT {od} FROM read_json('{info['ndjson']}/*.json', "
                f"format='newline_delimited', columns={nd_cols})", ORDER_COLS),
            "bulk_ndjson": lambda: fp(
                f"SELECT {bc} FROM read_json('{info['bulk']}/*.json', "
                f"format='newline_delimited', columns={bulk_cols})", BULK_COLS),
            "reconcile_drift": lambda: fp(
                f"SELECT {cc} FROM read_parquet('{wh}/{info['table']}/*.parquet', "
                "union_by_name=true)", cust_cols),
            "cdc_merge": lambda: fp(
                f"SELECT {mc} FROM read_parquet('{info['merge']}/*.parquet')", MERGE_COLS),
            "upsert_final": lambda: fp(
                f"{upsert_sel} FROM read_parquet('{info['upsert']}/*/*.parquet', "
                "hive_partitioning=true)", UPSERT_COLS),
        }
        want["bulk_ndjson"] = fp(
            f"SELECT {bc} FROM orders WHERE o_totalprice > {info['threshold']}", BULK_COLS)
        verdict: dict[str, str | None] = {}
        for name, read_back in have.items():
            try:
                got = read_back()
            except duckdb.Error as e:
                verdict[name] = f"output unreadable: {e}"[:300]
                continue
            verdict[name] = None if got == want[name] else (
                f"output {got} differs from source {want[name]}")
        # the CREATE step is checked through the drifted table, every
        # upsert batch through the table state after the round's last one
        via = {"reconcile_create": "reconcile_drift", "upsert_batch": "upsert_final"}
        for r in ops:
            if r.error is None:
                r.wrong = verdict[via.get(r.kind, r.kind)]


def drop_tables(ctx: Ctx, st: dict) -> None:
    for info in st["rounds"]:
        ctx.spark.sql(f"DROP TABLE IF EXISTS {info['table']}")
