"""Workload inputs, all made from the run's seed (the `sources` layer).

- bench_uniform: bench-uniform PDFs (1-2 Flate text pages, Helvetica),
  the `sources.documents.bench_documents` shape but seeded.
- mixed_job: every `fixtures.generate_fixtures()` case replicated under
  distinct urls, plus 2,000-page bench whales, in seeded order.
- operator_tables: the star schema + events/documents/embeddings tables
  `__spark_entry__.queries()` read, at the sf0.01 row counts.

The operator tables copy properties measured on the reference sf0.01
and sf0.1 tables (seed 42) the bench queries were written against:
row counts, key ranges, categorical values and their shares, the
rounding of prices, discounts and taxes, 64-d unit float32 embeddings,
and for `documents`:

- text: space-joined words drawn uniformly from one 30-word English
  vocabulary (`_WORDS`) in every `lang`; `lang` is a label only, the
  text carries no German, French or Spanish marker word (so
  bm25_topk's queries "der und die" and "le et la" score no document
  there either, while still tokenizing and semi-joining the corpus);
- 10-100 words a document, uniform (deciles 20 29 37 45 56 64 72 80 88);
- 4.8% near duplicates (an earlier document plus " dup"; sf0.01 24 of
  500, sf0.1 241 of 5,000, a few of them " dup dup"); exact duplicates
  only where two near duplicates share a base (sf0.01 0, sf0.1 8);
- lang shares en 41-44%, de/es/fr/zh 13-15% each; source src{doc_id % 20};
  n_chars = len(text).
"""

from __future__ import annotations

import datetime
import os
import random

UNIFORM_DOCS = 3000
_EPOCH = datetime.datetime(2024, 1, 1)
FIXTURE_REPLICAS = 3
WHALES = 1
WHALE_PAGES = 2000


def _seeded(seed: int, i: int) -> int:
    return (seed * 1_000_003 + i) & 0x7FFFFFFF


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def _land(rows: list[tuple], path: str, files: int) -> None:
    """Write documents-table rows as `files` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for k in range(files):
        part = rows[k * step : (k + 1) * step]
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in part], schema=schema
        )
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def bench_uniform(seed: int, path: str, files: int) -> int:
    """Urls do not depend on the seed, so the url-hash salt places the
    same documents together on every seed; the page text does."""
    from delphi_pdf_parser_spark.fixtures import bench_pdf

    rows = [
        (
            f"pdf://bench/{i:08d}",
            _EPOCH,
            bench_pdf(seed=_seeded(seed, i), npages=1 + i % 2),
            None,
            "en",
        )
        for i in range(UNIFORM_DOCS)
    ]
    _land(rows, path, files)
    return UNIFORM_DOCS


def mixed_job(seed: int, path: str, files: int) -> dict:
    """Lands the mixed corpus; returns url -> expectation, where an
    expectation is ("sha256", hex) for fixture goldens, ("failed", code)
    for fixtures that must fail, and ("whale", bytes) for whales (checked
    against an unsplit single-process extraction). The seed sets the
    whale text and the row order."""
    import hashlib

    from delphi_pdf_parser_spark.fixtures import bench_pdf, generate_fixtures

    rows, expect = [], {}
    for case_id, fx in sorted(generate_fixtures().items()):
        want = (
            ("sha256", hashlib.sha256(fx["golden"].encode("utf-8")).hexdigest())
            if fx["golden"] is not None
            else ("failed", "needs_password")
        )
        for k in range(FIXTURE_REPLICAS):
            url = f"pdf://fixture/{case_id}/{k}"
            rows.append((url, _EPOCH, fx["pdf"], None, fx["lang"]))
            expect[url] = want
    for j in range(WHALES):
        url = f"pdf://whale/{j}"
        pdf = bench_pdf(seed=_seeded(seed, j), npages=WHALE_PAGES)
        rows.append((url, _EPOCH, pdf, None, "en"))
        expect[url] = ("whale", pdf)
    random.Random(seed).shuffle(rows)
    _land(rows, path, files)
    return expect


# --- operator tables ---------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}


def operator_tables(seed: int, out_dir: str) -> None:
    """One single-row-group parquet file per table, like the reference
    sf0.01 tables, with their columns, types and measured value shapes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = _ROWS

    def pick(values, size):
        return [values[i] for i in rng.integers(0, len(values), size)]

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, span, size):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, size).astype("timedelta64[D]").astype(
            "timedelta64[us]"
        )

    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": pa.array(range(n["customer"]), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n["customer"],
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n["supplier"]), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
        },
        "part": {
            "p_partkey": pa.array(range(n["part"]), i64),
            "p_name": pick(
                [
                    f"{a} {b}"
                    for a in "blue cold hot large new old red small".split()
                    for b in "anvil bolt gear gizmo plate ring rod widget".split()
                ],
                n["part"],
            ),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": pick(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]
            ),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + np.arange(n["part"]) % 1000 / 10, 1),
        },
        "orders": {
            "o_orderkey": pa.array(range(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": pick(["F", "O", "P"], n["orders"]),
            "o_totalprice": money(1000, 500000, n["orders"]),
            "o_orderdate": days("1995-01-01", 2400, n["orders"]),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n["orders"],
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), i32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
            "l_extendedprice": money(900, 105000, n["lineitem"]),
            "l_discount": money(0, 0.1, n["lineitem"]),
            "l_tax": money(0, 0.08, n["lineitem"]),
            "l_returnflag": pick(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": pick(["F", "O"], n["lineitem"]),
            "l_shipdate": days("1995-01-02", 2500, n["lineitem"]),
        },
        "events": {
            "event_id": pa.array(range(n["events"]), i64),
            "ts": np.sort(
                np.datetime64("2024-01-01", "us")
                + rng.integers(0, 30 * 86400 * 10**6, n["events"]).astype(
                    "timedelta64[us]"
                )
            ),
            "user_id": pa.array(rng.integers(0, n["customer"] // 10, n["events"]), i64),
            "event_type": pick(
                ["click", "error", "purchase", "signup", "view"], n["events"]
            ),
            "value": np.round(rng.exponential(50, n["events"]), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        },
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Bag-of-words docs of 10-100 words; 4.8% are an earlier doc plus
    " dup" (near duplicates; see the module docstring)."""
    import pyarrow as pa

    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.048:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    langs = ["en", "de", "es", "fr", "zh"]
    lang = [langs[j] for j in rng.choice(5, n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])]
    return {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    import numpy as np
    import pyarrow as pa

    m = rng.standard_normal((n, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }
