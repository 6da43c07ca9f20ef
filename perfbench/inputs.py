"""Seeded benchmark inputs.

Three things are generated here, all from numpy's PCG64 so the same seed
always gives the same bytes:

- the base tables: a TPC-H-shaped star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, with the columns, types and
  value domains the contract entries in ``__spark_entry__.py`` expect.
  They use one fixed seed (``BASE_SEED``), so every run of a checkout
  reads the same base data;
- the ``corpus_dedup`` corpus for a run seed: the first ``CORPUS_SHARE``
  of the base documents plus seeded word-edit copies, and the same
  share of the base embeddings plus seeded small-noise copies.  New ids sit above the base maximum, so the
  ``doc_id < 50`` evaluation slice of ``pipeline_decontaminate`` is the
  base one.  The other eight tables are the base files;
- the request draws: a seeded order (``shuffled``) over a fixed
  Zipf-weighted multiset of operations (``zipf_bag``).

Everything is written under the cache directory given by the caller and
reused when it is already there.  Each cached directory is named after a
digest of this module's source, so an edit to the generators never
reuses stale inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
# share of the base documents / embeddings (in id order) that form the
# corpus: the DuckDB oracles of the pair and cluster stages grow faster
# than linearly, and a run has to fit its time budget
CORPUS_SHARE = 0.4
# share of corpus documents / embeddings that get one seeded near-copy
DUP_SHARE = 0.2
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(words[at:at + ln]))
        at += ln
    # 5% boilerplate near-copies of an earlier document
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def _docs_table(doc_id, texts, lang, source) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(doc_id, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": lang,
        "source": source,
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _emb_table(vec_id, vecs: np.ndarray, label) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(vec_id, type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, type=pa.int32()),
    })


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def generate_base(out: Path, scale: float) -> dict:
    """Write the ten base tables for ``scale`` (1.0 = 6M lineitem rows)."""
    rng = np.random.Generator(np.random.PCG64(BASE_SEED))
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(20_000 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["hot", "old", "red", "small", "new", "large", "cold", "blue"]
    noun = ["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
        "p_name": _pick(rng, [f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(_EPOCH_1995.astype(np.int64)
                           + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995.astype(np.int64)
                          + rng.integers(1, 2499, n_line) * _DAY_US),
    })
    jan = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": _ts(jan + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * scale)), n_ev),
                            type=pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = _doc_texts(rng, n_doc)
    t["documents"] = _docs_table(
        np.arange(n_doc), texts,
        _pick(rng, ["en", "de", "es", "fr", "zh"], n_doc,
              p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        pa.array([f"src{i % 20}" for i in range(n_doc)]),
    )
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    t["embeddings"] = _emb_table(
        np.arange(n_emb), _unit(centers[label] + 1.5 * rng.normal(size=(n_emb, 64))), label
    )
    out.mkdir(parents=True, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, out / f"{name}.parquet")
    return {"scale": scale, "rows": {name: table.num_rows for name, table in t.items()}}


def _edit(rng: np.random.Generator, text: str) -> str:
    """One to three word edits (replace, delete or insert a word)."""
    words = text.split(" ")
    for _ in range(int(rng.integers(1, 4))):
        at = int(rng.integers(0, len(words)))
        op = int(rng.integers(0, 3))
        new = VOCAB[int(rng.integers(0, len(VOCAB)))]
        if op == 0:
            words[at] = new
        elif op == 1 and len(words) > 5:
            del words[at]
        else:
            words.insert(at, new)
    return " ".join(words)


def generate_corpus(base: Path, out: Path, seed: int) -> dict:
    """The first ``CORPUS_SHARE`` of the base documents and embeddings
    plus seeded near-copies; returns the corpus record (sizes and
    injected duplicate share)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    docs = pq.read_table(base / "documents.parquet")
    docs = docs.slice(0, int(docs.num_rows * CORPUS_SHARE))
    n = docs.num_rows
    src = np.sort(rng.choice(n, int(round(n * DUP_SHARE)), replace=False))
    texts = docs.column("text").to_pylist()
    lang = docs.column("lang").to_numpy(zero_copy_only=False)
    source = docs.column("source").to_numpy(zero_copy_only=False)
    new_docs = _docs_table(
        int(_col_max(docs, "doc_id")) + 1 + np.arange(len(src)),
        [_edit(rng, texts[i]) for i in src],
        pa.array(lang[src]), pa.array(source[src]),
    )
    embs = pq.read_table(base / "embeddings.parquet")
    embs = embs.slice(0, int(embs.num_rows * CORPUS_SHARE))
    m = embs.num_rows
    esrc = np.sort(rng.choice(m, int(round(m * DUP_SHARE)), replace=False))
    vecs = np.stack(embs.column("embedding").to_numpy(zero_copy_only=False)[esrc])
    noisy = _unit(vecs + 0.02 * rng.normal(size=vecs.shape))
    new_embs = _emb_table(
        int(_col_max(embs, "vec_id")) + 1 + np.arange(len(esrc)), noisy,
        embs.column("label").to_numpy()[esrc],
    )
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.concat_tables([docs, new_docs.cast(docs.schema)]),
                   out / "documents.parquet")
    pq.write_table(pa.concat_tables([embs, new_embs.cast(embs.schema)]),
                   out / "embeddings.parquet")
    for name in TABLES:
        if name not in ("documents", "embeddings"):
            shutil.copyfile(base / f"{name}.parquet", out / f"{name}.parquet")
    return {
        "documents": n + len(src),
        "embeddings": m + len(esrc),
        "injected_doc_dups": len(src),
        "injected_emb_dups": len(esrc),
        "injected_dup_share": (len(src) + len(esrc)) / (n + len(src) + m + len(esrc)),
    }


def _col_max(table: pa.Table, col: str) -> int:
    return int(np.max(table.column(col).to_numpy()))


def _build_once(target: Path, build) -> object:
    """Run ``build(tmp_dir)`` into a sibling temp dir and rename it into
    place, so an interrupted run never leaves a half-written cache."""
    meta = target / "meta.json"
    if meta.exists():
        return json.loads(meta.read_text())
    tmp = target.with_name(target.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    info = build(tmp)
    (tmp / "meta.json").write_text(json.dumps(info))
    shutil.rmtree(target, ignore_errors=True)
    tmp.rename(target)
    return info


def digest(*parts) -> str:
    """A short stable digest of JSON-able values."""
    text = json.dumps(parts, sort_keys=True, default=str)
    return hashlib.sha1(text.encode()).hexdigest()[:12]


SOURCE_DIGEST = digest(Path(__file__).read_text())


def ensure_base(cache: Path, scale: float) -> Path:
    target = cache / f"base-sf{scale:g}-{SOURCE_DIGEST}"
    _build_once(target, lambda d: generate_base(d, scale))
    return target


def ensure_corpus(cache: Path, scale: float, seed: int) -> tuple[Path, dict]:
    base = ensure_base(cache, scale)
    target = cache / f"corpus-sf{scale:g}-seed{seed}-{SOURCE_DIGEST}"
    return target, _build_once(target, lambda d: generate_corpus(base, d, seed))


# Zipf exponent of the request draws.  An assumption, not a measured
# figure: no traffic trace of this program exists, and 1.1 is only a
# moderate skew in which the top-ranked op takes about a third of the
# draws over a dozen ops.
ZIPF_S = 1.1


def zipf_bag(n: int, extra: int, s: float = ZIPF_S) -> list[int]:
    """A fixed Zipf-weighted multiset over ``n`` ranked entries: every
    entry once, plus ``extra`` more split by Zipf(s) weights on rank
    (largest-remainder rounding)."""
    w = 1.0 / np.arange(1, n + 1) ** s
    quota = extra * w / w.sum()
    counts = np.floor(quota).astype(int)
    for i in np.argsort(-(quota - counts), kind="stable")[: extra - counts.sum()]:
        counts[i] += 1
    return np.repeat(np.arange(n), counts + 1).tolist()


def shuffled(bag: list[int], *seed: int) -> list[int]:
    """The seeded order of a run's ops.  Fixing the multiset and seeding only
    the order keeps the op mix identical across seeds, so a median moves
    with the program, not with the draw."""
    return np.random.Generator(np.random.PCG64(list(seed))).permutation(bag).tolist()
