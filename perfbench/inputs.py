"""Seeded input generator for the benchmark workloads.

Every table is derived from ``numpy.random.default_rng(seed)`` alone, so
the same seed always gives byte-identical inputs and the program under
test receives nothing but the generated directory. The tables follow the
layout the engine reads (``<dir>/<table>.parquet``, one file per table,
the schema of the engine's TPC-H-ish test data), written with pyarrow's
default row-group size, so every table here is one row group: the same
layout as the engine's reference test data, neither split up to hide
single-task scans nor merged to favour them.

The constants are fitted to the profile of the engine's reference test
data (sf0.01 and sf0.1), which ``profile`` measures for any data
directory; ``python3 perfbench/inputs.py <data_dir>`` prints it, so a
generated directory and the reference data can be compared side by side.

- ``events`` (finance): 66.7 transactions per customer on average, as
  in the reference data; event types uniform (each about 20% there, so
  earned/spent/expired is 3:1:1); values exponential with mean 50 at
  cents (reference: mean 49.9, sd 49.6); timestamps uniform over 30 days
  at microsecond resolution; ``event_id`` in timestamp order. Two
  departures from the reference, both on purpose: customer keys are a
  seeded sample of a 10x sparser key space (the reference keys are
  dense), and 1% of customers are heavy, drawing 2-10x the transactions
  of the rest (the reference counts are near-uniform, max 99 and median
  66 at sf0.1), so FIFO matching also sees long histories.
- ``documents``: texts of 10-100 words over the reference's 30-word
  vocabulary, languages in the reference's shares, sources round-robin
  over 20 as there; 5% of the documents are near-duplicates (a copy of
  an earlier document, itself possibly a near-duplicate, with the word
  ``dup`` appended), as in the reference data.
- ``embeddings``: unit vectors of 64 dims scattered around 10 seeded
  centroids, as in the reference data.
- ``region``/``nation``/``customer``/``supplier``/``part``/``orders``/
  ``lineitem``: uniform draws over the domains of the TPC-H-ish tables.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("blue", "bolt", "hot", "large", "ring", "steel", "tiny", "red")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
NEAR_DUP_SHARE = 0.05
TXNS_PER_CUSTOMER = 100_000 / 1_500  # reference sf0.1 (and sf0.01) density
HEAVY_SHARE = 0.01
HEAVY_WEIGHT = (2.0, 10.0)
VALUE_MEAN = 50.0
N_SOURCES = 20
EMBED_DIM = 64
DAY_US = 86_400_000_000
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")


def _pick(rng, values, n, p=None) -> pa.Array:
    """n draws from `values` as a plain string column."""
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def events_table(rng, n_events: int) -> pa.Table:
    """Finance transactions at the reference density of customers, with
    a heavy 1% of customers (2-10x weight) and customer keys drawn from
    a seeded sample of a 10x sparser key space."""
    n_customers = max(1, round(n_events / TXNS_PER_CUSTOMER))
    weight = np.ones(n_customers)
    heavy = rng.random(n_customers) < HEAVY_SHARE
    weight[heavy] = rng.uniform(*HEAVY_WEIGHT, int(heavy.sum()))
    who = rng.choice(n_customers, size=n_events, p=weight / weight.sum())
    keys = rng.choice(10 * n_customers, size=n_customers, replace=False)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    props = pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(EVENTS_START + ts.astype("timedelta64[us]")),
        "user_id": pa.array(keys[who].astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n_events), 2)),
        "props": props,
    })


def documents_table(rng, n_docs: int) -> pa.Table:
    """Random-word documents, 5% of them near-duplicates: a copy of an
    earlier document (possibly a near-duplicate itself) plus ``dup``."""
    is_dup = rng.random(n_docs) < NEAR_DUP_SHARE
    is_dup[0] = False
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, at = [], 0
    for i, n in enumerate(lengths):
        if is_dup[i]:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[at:at + n]))
        at += n
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embeddings_table(rng, n_vecs: int, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (n_labels, EMBED_DIM))
    label = rng.integers(0, n_labels, n_vecs)
    vec = centers[label] + rng.normal(0.0, 0.8, (n_vecs, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n_vecs * EMBED_DIM + 1, EMBED_DIM,
                                 dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label.astype(np.int32)),
    })


def tpch_tables(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"]),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    w1 = rng.integers(0, len(PART_WORDS), n_part)
    w2 = rng.integers(0, len(PART_WORDS), n_part)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_WORDS[a]} {PART_WORDS[b]}"
                            for a, b in zip(w1, w2)]),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(retail),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    partkey = rng.integers(0, n_part, n_line)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[partkey], 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-12-31", n_line)),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def _read(data_dir: str, name: str) -> pa.Table | None:
    path = os.path.join(data_dir, f"{name}.parquet")
    return pq.read_table(path) if os.path.exists(path) else None


def profile(data_dir: str, oracles: dict | None = None) -> dict:
    """The shape figures the generator is fitted to, for any data
    directory: rows and row groups per table; customers, max and median
    transactions per customer, event-type shares and value mean/sd of
    ``events``; near-duplicate pairs of ``documents`` (documents whose
    text minus a trailing `` dup`` is another document's text). With
    the engine's oracle SQL, also the corpus funnel of
    ``source_curation_funnel``: documents in, and documents through
    decontamination, dedup and the quality gate."""
    out: dict = {"rows": {}, "row_groups": {}}
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            meta = pq.ParquetFile(os.path.join(data_dir, f)).metadata
            out["rows"][f[:-8]] = meta.num_rows
            out["row_groups"][f[:-8]] = meta.num_row_groups
    events = _read(data_dir, "events")
    if events is not None:
        per = np.unique(events.column("user_id").to_numpy(),
                        return_counts=True)[1]
        types, counts = np.unique(
            events.column("event_type").to_numpy(zero_copy_only=False),
            return_counts=True)
        value = events.column("value").to_numpy()
        out["events"] = {
            "customers": int(per.size),
            "max_txns_per_customer": int(per.max()),
            "median_txns_per_customer": float(np.median(per)),
            "event_type_share": {str(t): round(c / events.num_rows, 4)
                                 for t, c in zip(types, counts)},
            "value_mean": round(float(value.mean()), 2),
            "value_sd": round(float(value.std()), 2),
        }
    docs = _read(data_dir, "documents")
    if docs is not None:
        texts = docs.column("text").to_pylist()
        have = set(texts)
        out["documents"] = {"near_dup_pairs": sum(
            t.endswith(" dup") and t[:-4] in have for t in texts)}
        if oracles is not None:
            import duckdb

            con = duckdb.connect()
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{data_dir}/documents.parquet')")
            n_raw, n_clean, n_dedup, n_final = con.execute(
                "SELECT sum(n_raw), sum(n_clean), sum(n_dedup), sum(n_final)"
                f" FROM ({oracles['source_curation_funnel']})").fetchone()
            con.close()
            out["documents"]["funnel"] = {
                "raw": int(n_raw), "clean": int(n_clean),
                "dedup": int(n_dedup), "gate": int(n_final)}
    return out


def generate(workload: str, seed: int, out_dir: str, size: dict) -> None:
    """Write `workload`'s inputs under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    tables = tpch_tables(rng, size["tpch_sf"])
    tables["events"] = events_table(rng, size["events"])
    if "documents" in size:
        tables["documents"] = documents_table(rng, size["documents"])
        tables["embeddings"] = embeddings_table(rng, size["embeddings"])
    for name, table in tables.items():
        _write(out_dir, name, table)


if __name__ == "__main__":
    # profile of a data directory, e.g. the engine's reference test data
    # or a directory `generate` wrote, with the corpus funnel when run
    # from the repository root
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    try:
        from __spark_entry__ import oracle_sql
        oracles = oracle_sql()
    except ImportError:
        oracles = None
    print(json.dumps(profile(sys.argv[1], oracles), indent=1))
