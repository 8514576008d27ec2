"""Deterministic benchmark fixture: a TPC-H-shaped star schema plus the
LLM-data tables (``documents`` with planted duplicates), written as
parquet with pyarrow.

The fixture is generated once per checkout from ``FIXTURE_SEED`` (never
from the run seed) and cached; each run's ``--seed`` only chooses which
parameters, batches and requests a workload draws from it. Generation
time is therefore outside every metric, as is the fixture itself.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20240611
# bump when the generator changes, so a stale cache is regenerated
FIXTURE_VERSION = 1

# row counts: lineitem ≈ 4 × orders (TPC-H ratio); sized so one etl_sql
# pass takes a few seconds on 4 cores and a run can take several passes
SIZES = {
    "customer": 7_500,
    "supplier": 500,
    "part": 10_000,
    "orders": 75_000,
    "events": 10_000,
    "documents": 6_000,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DATE_LO = dt.date(1992, 1, 1)
DATE_DAYS = 7 * 365  # orders span 1992-01-01 .. ~1998-12
LANGS = ["en", "de", "fr", "es", "zh"]
N_SOURCES = 20
VOCAB_SIZE = 3_000

# documents: share of the pool that is a planted exact copy (case and
# whitespace changes only), a planted near copy (~10% of words
# replaced), or low quality (too short or too repetitive for the gate)
EXACT_DUP_FRAC = 0.08
NEAR_DUP_FRAC = 0.12
LOW_QUALITY_FRAC = 0.08


def vocabulary(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    return sorted(words)


def _zipf_probs(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** 0.9
    return w / w.sum()


def _dates(rng, n, lo_days=0, span=DATE_DAYS):
    days = rng.integers(lo_days, lo_days + span, n)
    return pa.array(
        np.datetime64(DATE_LO.isoformat()) + days.astype("timedelta64[D]"),
        pa.date32(),
    )


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_c, n_s, n_p, n_o = (
        SIZES["customer"], SIZES["supplier"], SIZES["part"], SIZES["orders"]
    )
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, n_c, -999, 9999),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, n_s, -999, 9999),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_p, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(n_p)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_p)],
            "p_type": [f"TYPE{t}" for t in rng.integers(0, 150, n_p)],
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": _money(rng, n_p, 900, 2000),
        }),
    }
    order_days = rng.integers(0, DATE_DAYS - 150, n_o)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, n_o, 1000, 400_000),
        "o_orderdate": pa.array(
            np.datetime64(DATE_LO.isoformat())
            + order_days.astype("timedelta64[D]"),
            pa.date32(),
        ),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)],
    })
    lines_per = rng.integers(1, 8, n_o)
    n_l = int(lines_per.sum())
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines_per)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    ship_days = np.repeat(order_days, lines_per) + rng.integers(1, 122, n_l)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": pa.array(
            np.datetime64(DATE_LO.isoformat())
            + ship_days.astype("timedelta64[D]"),
            pa.date32(),
        ),
    })
    return out


def aux_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """events/embeddings: not measured, but ``tables.register_views``
    registers every fixture table, so they must exist."""
    n_e, n_v = SIZES["events"], SIZES["embeddings"]
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + rng.integers(0, 86_400 * 10**6, n_e).astype("timedelta64[us]")
    emb = rng.standard_normal((n_v, 16)).astype(np.float32)
    return {
        "events": pa.table({
            "event_id": np.arange(n_e, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 500, n_e).astype(np.int64),
            "event_type": np.array(["click", "view", "buy"])[
                rng.integers(0, 3, n_e)
            ],
            "value": np.round(rng.uniform(0, 100, n_e), 2),
            "props": [f'{{"k": {int(v)}}}' for v in rng.integers(0, 9, n_e)],
        }),
        "embeddings": pa.table({
            "vec_id": np.arange(n_v, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_v), pa.int32()),
        }),
    }


def near_copy(words: list[str], vocab: list[str], rng, frac: float = 0.1):
    """Replace about ``frac`` of the words: Jaccard of the 3-gram
    shingle sets stays well above 0.5 for documents of 20+ words."""
    out = list(words)
    for i in rng.choice(len(out), max(1, int(len(out) * frac)), replace=False):
        out[i] = vocab[int(rng.integers(0, len(vocab)))]
    return out


def documents(rng: np.random.Generator, vocab: list[str]) -> pa.Table:
    n = SIZES["documents"]
    probs = _zipf_probs(len(vocab))
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < EXACT_DUP_FRAC:
            src = texts[int(rng.integers(0, i))]
            # same normalized content: case and whitespace only
            text = ("  " + src.upper()) if rng.random() < 0.5 else src.replace(" ", "   ")
        elif i > 50 and r < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            src = texts[int(rng.integers(0, i))].lower().split()
            text = " ".join(near_copy(src, vocab, rng))
        elif r < EXACT_DUP_FRAC + NEAR_DUP_FRAC + LOW_QUALITY_FRAC:
            if rng.random() < 0.5:  # too short for the gate
                text = " ".join(rng.choice(vocab, int(rng.integers(1, 7)), p=probs))
            else:  # too repetitive: unique-word ratio <= 0.2
                w = list(rng.choice(vocab, 2, p=probs))
                text = " ".join(w * int(rng.integers(10, 30)))
        else:
            k = int(rng.integers(20, 120))
            text = " ".join(rng.choice(vocab, k, p=probs))
        texts.append(text)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{s}" for s in rng.integers(0, N_SOURCES, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def generate(out_dir: str) -> None:
    rng = np.random.default_rng(FIXTURE_SEED)
    vocab = vocabulary(rng)
    tables = star_tables(rng) | aux_tables(rng)
    tables["documents"] = documents(rng, vocab)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def ensure_fixture(cache_dir: str) -> str:
    """Return the fixture directory, generating it on first use. The
    directory is renamed into place only when complete, so a run cut
    short never leaves a half-written fixture behind."""
    final = os.path.join(cache_dir, f"fixture-v{FIXTURE_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(tmp)
    os.replace(tmp, final)
    return final


def vocab_for_queries() -> list[str]:
    """The fixture's vocabulary (regenerated: it is the first draw)."""
    return vocabulary(np.random.default_rng(FIXTURE_SEED))
