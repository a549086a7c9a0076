"""Seeded input generators for the benchmark.

Everything here is numpy + pyarrow on the driver and depends only on the
seed and the size arguments.  It deliberately does not import
``gents_spark`` (not even ``gents_spark.synth``): a change to the engine
must never be able to move the benchmark's inputs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257


@dataclass
class SeqSpec:
    """Shape of one generated ``(doc_id, tokens, n_tok, source)`` table."""

    n_sources: int
    seqs_per_source: int  # mean over sources; the hot source gets more
    hot_frac: float = 0.3  # share of ALL rows held by src_00
    n_tok_lo: int = 8
    n_tok_hi: int = 32
    invalid_frac: float = 0.002


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def _tokens_table(doc_id, source, n_tok, lens, rng) -> pa.Table:
    """Token arrays of ``lens`` lengths; ``n_tok`` may disagree on purpose."""
    offsets = np.zeros(len(lens) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))
    return pa.table(
        {
            "doc_id": pa.array(doc_id, pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(n_tok, pa.int32()),
            "source": pa.array(source, pa.string()),
        }
    )


def source_sizes(spec: SeqSpec) -> list[int]:
    """Rows per source: src_00 holds ``hot_frac`` of all rows."""
    total = spec.n_sources * spec.seqs_per_source
    hot = int(total * spec.hot_frac)
    cold = (total - hot) // (spec.n_sources - 1)
    return [hot] + [cold] * (spec.n_sources - 1)


def sequences(spec: SeqSpec, seed: int, seq0=0, sizes=None,
              suffix: str = "", salt: int = 0) -> tuple[pa.Table, int]:
    """Generate the sequences table and inject invalid rows.

    Source ``i`` gets ``sizes[i]`` rows (default ``source_sizes(spec)``)
    with sequence numbers from ``seq0`` (one start for all sources, or
    one per source).  A ``suffix`` such as ``#3`` marks re-delivered
    (late) rows.  Returns ``(table, n_invalid)``; the invalid rows are,
    in rotation, a token count that disagrees with the array, a doc_id
    without ``/<seq>``, and a NULL source, so each validity rule is hit.
    """
    rng = _rng(seed, 1, salt)
    sizes = source_sizes(spec) if sizes is None else sizes
    starts = np.broadcast_to(np.asarray(seq0, dtype=np.int64), (len(sizes),))
    src = np.repeat(np.arange(len(sizes)), sizes)
    seq = np.concatenate([np.arange(a, a + n) for a, n in zip(starts, sizes)])
    n = len(seq)
    n_tok = rng.integers(spec.n_tok_lo, spec.n_tok_hi + 1, n).astype(np.int32)
    lens = n_tok.copy()
    names = np.array([f"src_{i:02d}" for i in range(len(sizes))], dtype=object)
    source = names[src]
    doc_id = np.char.add(
        np.char.add(source.astype(str), "/"),
        np.char.add(np.char.zfill(seq.astype(str), 10), suffix),
    ).astype(object)
    n_bad = int(round(n * spec.invalid_frac))
    bad = np.sort(rng.choice(n, n_bad, replace=False))
    kind = np.arange(n_bad) % 3
    n_tok[bad[kind == 0]] += 1
    doc_id[bad[kind == 1]] = [d.replace("/", ":") for d in doc_id[bad[kind == 1]]]
    source = source.copy()
    source[bad[kind == 2]] = None
    return _tokens_table(doc_id, source, n_tok, lens, rng), n_bad


def write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` row-sliced parquet files under ``path``.

    Several files give Spark several scan splits (one file = one task
    at these sizes)."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


# --------------------------------------------------------------------------
# The operator battery's star schema + events/documents/embeddings tables.
# Column names, types and value families follow the repository's
# read-only sf fixtures, so every registry query and its DuckDB twin run
# unchanged over the generated directory.
# --------------------------------------------------------------------------

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((b - a).astype(np.int64))
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten battery tables at scale factor ``sf``."""
    rng = _rng(seed, 2)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # 5% of documents are near-duplicates: an earlier text plus "dup"
    n_words = rng.integers(10, 101, n_doc)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in n_words]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_star(sf: float, seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def content_hash(tables: dict[str, pa.Table]) -> str:
    """Order-sensitive digest of the tables' Arrow IPC serialisation."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue())
    return h.hexdigest()
