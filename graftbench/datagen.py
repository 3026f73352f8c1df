"""Seeded input generator for the benchmark.

Everything a workload feeds the program comes from here: the fixture-shaped
parquet tables, the SOQL statement stream, the near-duplicate
documents, the CDC and upsert change feeds and the describe() drift. The
same seed always gives byte-identical files and identical Python values:
every table draws from its own ``numpy`` stream spawned from the seed, and
parquet is written with fixed writer options.

The tables copy the sf0.1 fixtures' schemas (FIXTURES.md), row counts and
value distributions: uniform keys, dates and amounts over the fixtures'
ranges, documents of 10-100 words from the fixtures' 30-word vocabulary,
unit-norm 64-d embeddings with no cluster structure. ``fidelity.py``
compares a generated tier with a fixture directory column by column.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: sf0.1 row counts of the fixture tier the shapes are taken from.
SF01_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _day_us(iso: str) -> int:
    return int((np.datetime64(iso, "us") - _EPOCH).astype(np.int64))


def rng_for(seed: int, *stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream name): adding a stream
    never shifts the values another stream draws."""
    digest = hashlib.sha256("/".join(stream).encode()).digest()
    key = int.from_bytes(digest[:8], "little")
    return np.random.default_rng(np.random.SeedSequence([seed, key]))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    a, b = _day_us(lo) // _DAY_US, _day_us(hi) // _DAY_US
    return _ts(rng.integers(a, b + 1, n) * _DAY_US)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _sentence(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


#: share of the sf0.1 fixture documents that are `` dup`` copies (250 of 5,000)
FIXTURE_DUP_RATE = 0.05


def gen_tables(seed: int, scale: dict[str, float] | None = None,
               dup_rate: float = FIXTURE_DUP_RATE) -> dict[str, pa.Table]:
    """Fixture-shaped tables. ``scale`` multiplies the sf0.1 row count of
    the named tables (default 1.0); ``dup_rate`` is the share of documents
    that are injected near-duplicates (see :func:`gen_documents`)."""
    scale = scale or {}
    n = {t: max(1, int(r * scale.get(t, 1.0))) for t, r in SF01_ROWS.items()}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    r = rng_for(seed, "nation")
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32()),
    })
    r = rng_for(seed, "customer")
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, c)),
        "c_mktsegment": _pick(r, SEGMENTS, c),
    })
    r = rng_for(seed, "supplier")
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, s)),
    })
    r = rng_for(seed, "part")
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": _pick(r, names, p),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(r, PART_TYPES, p),
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array(np.round(r.integers(9000, 10000, p) / 10.0, 1)),
    })
    r = rng_for(seed, "orders")
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(r, STATUSES, o),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, o)),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": _pick(r, PRIORITIES, o),
    })
    r = rng_for(seed, "lineitem")
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, li)),
        "l_discount": pa.array(r.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, li) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], li),
        "l_linestatus": _pick(r, ["F", "O"], li),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", li),
    })
    r = rng_for(seed, "events")
    e = n["events"]
    t0, t1 = _day_us("2024-01-01"), _day_us("2024-01-31")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(np.sort(r.integers(t0, t1, e))),
        "user_id": pa.array(r.integers(0, 1500, e), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, e),
        "value": pa.array(np.round(r.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, e)]),
    })
    out["documents"], _ = gen_documents(seed, n["documents"], dup_rate)
    r = rng_for(seed, "embeddings")
    m = n["embeddings"]
    vecs = r.normal(0.0, 1.0, (m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(r.integers(0, 10, m), pa.int32()),
    })
    return out


def gen_documents(seed: int, n: int, dup_rate: float) -> tuple[pa.Table, list[tuple[int, int]]]:
    """``n`` documents of 10-100 words, of which ``round(n * dup_rate)`` are
    near-duplicate copies of another document with `` dup`` appended, the
    form the fixtures' own copies take. Returns the table and the injected
    (original, copy) doc-id pairs."""
    r = rng_for(seed, "documents")
    texts = [_sentence(r, int(k)) for k in r.integers(10, 101, n)]
    n_dup = int(round(n * dup_rate))
    copies = np.sort(r.choice(n, n_dup, replace=False))
    originals = np.setdiff1d(np.arange(n), copies)
    pairs = []
    for cid in copies:
        src = int(r.choice(originals))
        texts[int(cid)] = texts[src] + " dup"
        pairs.append((src, int(cid)))
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, pairs


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict]:
    """Write one ``<name>.parquet`` per table; returns rows and bytes per
    table (the recorded input properties)."""
    os.makedirs(out_dir, exist_ok=True)
    props = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        props[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return props


def tree_digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + content)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            full = os.path.join(dirpath, f)
            h.update(os.path.relpath(full, root).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# --------------------------------------------------------------------------
# SOQL front-door stream: templates paired with DuckDB SQL.
# --------------------------------------------------------------------------

def _soql_filter(r):
    status = STATUSES[int(r.integers(0, 3))]
    lo = int(r.integers(1, 40)) * 10_000
    return (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM Orders "
        f"WHERE o_orderstatus = '{status}' AND o_totalprice > {lo} "
        f"AND o_totalprice <= {lo + 2_000}",
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        f"WHERE o_orderstatus = '{status}' AND o_totalprice > {lo} "
        f"AND o_totalprice <= {lo + 2_000}",
    )


def _soql_in_list(r):
    segs = sorted(r.choice(SEGMENTS, 2, replace=False).tolist())
    nat = sorted(int(x) for x in r.choice(25, 3, replace=False))
    seg_l = ", ".join(f"'{x}'" for x in segs)
    nat_l = ", ".join(str(x) for x in nat)
    return (
        "SELECT c_mktsegment, c_nationkey, COUNT() n, MAX(c_acctbal) mx "
        f"FROM Customer WHERE c_mktsegment IN ({seg_l}) "
        f"AND c_nationkey IN ({nat_l}) GROUP BY c_mktsegment, c_nationkey",
        "SELECT c_mktsegment, c_nationkey, count(*) AS n, max(c_acctbal) AS mx "
        f"FROM customer WHERE c_mktsegment IN ({seg_l}) "
        f"AND c_nationkey IN ({nat_l}) GROUP BY c_mktsegment, c_nationkey",
    )


def _soql_semi_join(r):
    bal = int(r.integers(90, 100)) * 100
    prio = PRIORITIES[int(r.integers(0, 5))]
    return (
        "SELECT o_orderkey, o_totalprice FROM Orders "
        f"WHERE o_orderpriority = '{prio}' AND o_custkey IN "
        f"(SELECT c_custkey FROM Customer WHERE c_acctbal > {bal})",
        "SELECT o_orderkey, o_totalprice FROM orders "
        f"WHERE o_orderpriority = '{prio}' AND o_custkey IN "
        f"(SELECT c_custkey FROM customer WHERE c_acctbal > {bal})",
    )


def _soql_rollup(r):
    bal = int(r.integers(0, 9)) * 1000
    having = int(r.integers(2, 30))
    return (
        "SELECT o_orderstatus, CALENDAR_YEAR(o_orderdate) yr, COUNT() n, "
        "MAX(o_totalprice) mx FROM Orders WHERE o_custkey IN "
        f"(SELECT c_custkey FROM Customer WHERE c_acctbal > {bal}) "
        "GROUP BY ROLLUP(o_orderstatus, CALENDAR_YEAR(o_orderdate)) "
        f"HAVING COUNT() > {having}",
        "SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS yr, "
        "count(*) AS n, max(o_totalprice) AS mx FROM orders WHERE o_custkey IN "
        f"(SELECT c_custkey FROM customer WHERE c_acctbal > {bal}) "
        "GROUP BY ROLLUP(o_orderstatus, CAST(year(o_orderdate) AS INTEGER)) "
        f"HAVING count(*) > {having}",
    )


def _soql_relationship(r):
    lo = int(r.integers(490, 499)) * 1000
    return (
        "SELECT o_orderkey, customer.c_name cust_name, "
        "customer.nation.n_name nation_name FROM orders "
        f"WHERE o_totalprice > {lo}",
        "SELECT o_orderkey, c_name AS cust_name, n_name AS nation_name "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        f"JOIN nation ON c_nationkey = n_nationkey WHERE o_totalprice > {lo}",
    )


def _soql_date_fn(r):
    year = int(r.integers(1995, 2002))
    return (
        "SELECT CALENDAR_MONTH(o_orderdate) mo, COUNT() n, "
        "MAX(o_totalprice) mx FROM Orders "
        f"WHERE CALENDAR_YEAR(o_orderdate) = {year} "
        "GROUP BY CALENDAR_MONTH(o_orderdate)",
        "SELECT CAST(month(o_orderdate) AS INTEGER) AS mo, count(*) AS n, "
        "max(o_totalprice) AS mx FROM orders "
        f"WHERE year(o_orderdate) = {year} GROUP BY 1",
    )


def _soql_top_n(r):
    q = int(r.integers(45, 50))
    k = int(r.integers(5, 50))
    return (
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM Lineitem "
        f"WHERE l_quantity > {q} "
        f"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {k}",
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
        f"WHERE l_quantity > {q} "
        f"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {k}",
    )


def _soql_events(r):
    day = int(r.integers(1, 25))
    kind = EVENT_TYPES[int(r.integers(0, 5))]
    return (
        "SELECT user_id, COUNT() n, MAX(value) mx FROM events "
        f"WHERE event_type = '{kind}' AND ts >= 2024-01-{day:02d} "
        f"AND ts < 2024-01-{day + 5:02d} GROUP BY user_id HAVING COUNT() > 1",
        "SELECT user_id, count(*) AS n, max(value) AS mx FROM events "
        f"WHERE event_type = '{kind}' "
        f"AND ts >= TIMESTAMP '2024-01-{day:02d} 00:00:00' "
        f"AND ts < TIMESTAMP '2024-01-{day + 5:02d} 00:00:00' "
        "GROUP BY user_id HAVING count(*) > 1",
    )


SOQL_TEMPLATES = {
    "filter": _soql_filter,
    "in_list": _soql_in_list,
    "semi_join": _soql_semi_join,
    "rollup_having": _soql_rollup,
    "relationship": _soql_relationship,
    "date_fn": _soql_date_fn,
    "order_limit": _soql_top_n,
    "events_window": _soql_events,
}


def gen_soql_stream(seed: int, n: int, repeat_share: float,
                    stream_name: str = "soql") -> list[dict]:
    """``n`` statements in blocks that hold every template once, in a seeded
    order, so any window of the stream has the same template mix. A
    ``repeat_share`` of the statements exactly repeat an earlier statement
    of their template; the rest draw fresh constants."""
    r = rng_for(seed, stream_name)
    names = sorted(SOQL_TEMPLATES)
    earlier: dict[str, list[dict]] = {name: [] for name in names}
    stream: list[dict] = []
    while len(stream) < n:
        for i in r.permutation(len(names)):
            name = names[int(i)]
            if earlier[name] and r.random() < repeat_share:
                prev = earlier[name]
                stream.append(dict(prev[int(r.integers(0, len(prev)))]))
                continue
            soql, sql = SOQL_TEMPLATES[name](r)
            stmt = {"template": name, "soql": soql, "sql": sql}
            earlier[name].append(stmt)
            stream.append(stmt)
    return stream[:n]


# --------------------------------------------------------------------------
# ELT feeds.
# --------------------------------------------------------------------------

def gen_cdc_feed(seed: int, n_keys: int, n_changes: int) -> pa.Table:
    """Change rows for ``orders``: updates, deletes and inserts of new keys,
    ordered by a unique per-key ``chg_seq``."""
    r = rng_for(seed, "cdc")
    keys = r.integers(0, int(n_keys * 1.05), n_changes)
    op = np.where(r.random(n_changes) < 0.15, "d", "u")
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(r.integers(0, 15_000, n_changes), pa.int64()),
        "o_orderstatus": _pick(r, STATUSES, n_changes),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_changes)),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_changes),
        "o_orderpriority": _pick(r, PRIORITIES, n_changes),
        "op": pa.array(op.tolist()),
        "chg_seq": pa.array(np.arange(n_changes), pa.int64()),
    })


def gen_upsert_batches(
    seed: int, n_keys: int, n_buckets: int, sizes: list[int], spans: list[int]
) -> list[pa.Table]:
    """Micro-batches keyed on ``k`` with partition column ``bucket``
    (= k mod ``n_buckets``). Batch i touches ``spans[i]`` buckets: a
    narrow batch rewrites few partitions, a wide one all of them."""
    r = rng_for(seed, "upsert")
    batches, version = [], 0
    for size, span in zip(sizes, spans):
        buckets = r.choice(n_buckets, span, replace=False)
        k = r.integers(0, n_keys // n_buckets, size) * n_buckets + r.choice(buckets, size)
        k = np.unique(k)
        m = len(k)
        batches.append(pa.table({
            "k": pa.array(k, pa.int64()),
            "v": pa.array(_money(r, 0.0, 1000.0, m)),
            "tag": _pick(r, WORDS, m),
            "ver": pa.array(np.arange(version, version + m), pa.int64()),
            "bucket": pa.array(k % n_buckets, pa.int32()),
        }))
        version += m
    return batches


#: describe() entries for the ``customer`` object (the reference's
#: describe()['fields'] shape: name/type/length/precision/scale).
_CUSTOMER_DESCRIBE = [
    {"name": "c_custkey", "soapType": "xsd:int", "length": 0, "precision": 9, "scale": 0},
    {"name": "c_name", "soapType": "xsd:string", "length": 40, "precision": 0, "scale": 0},
    {"name": "c_nationkey", "soapType": "xsd:int", "length": 0, "precision": 9, "scale": 0},
    {"name": "c_acctbal", "soapType": "xsd:double", "length": 0, "precision": 16, "scale": 2},
    {"name": "c_mktsegment", "soapType": "xsd:string", "length": 10, "precision": 0, "scale": 0},
]
_DRIFT_FIELDS = [
    {"name": "c_phone", "soapType": "xsd:phone", "length": 40, "precision": 0, "scale": 0},
    {"name": "c_rating", "soapType": "xsd:double", "length": 0, "precision": 5, "scale": 2},
    {"name": "c_active", "soapType": "xsd:boolean", "length": 0, "precision": 0, "scale": 0},
    {"name": "c_since", "soapType": "xsd:date", "length": 0, "precision": 0, "scale": 0},
]


def gen_describe_drift(seed: int) -> tuple[list[dict], list[dict]]:
    """(first describe, drifted describe): the second adds a seeded,
    non-empty subset of new fields (add-only drift)."""
    r = rng_for(seed, "drift")
    k = int(r.integers(1, len(_DRIFT_FIELDS) + 1))
    added = [_DRIFT_FIELDS[i] for i in sorted(r.choice(len(_DRIFT_FIELDS), k, replace=False))]
    return list(_CUSTOMER_DESCRIBE), list(_CUSTOMER_DESCRIBE) + added
