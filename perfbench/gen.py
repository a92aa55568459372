"""Seeded benchmark inputs.

Each workload's inputs are one fixed base corpus (generated from
``BASE_SEED`` with the make-up of the engine's sf-style fixtures) pushed
through transforms keyed by the run's ``--seed``:

- every surrogate / foreign key is offset by ``(seed % 1000) * KEY_STRIDE``,
  so joins stay inside the copy and join fan-out is unchanged;
- document text goes through a seeded bijective letter substitution, which
  keeps every shingle / token structure (near-dup pairs, word counts) and
  changes every token;
- embedding dimensions are permuted (orthogonal: cosine structure is exact);
- row order is a seeded permutation;
- event times shift by ``seed % 97`` whole days (hour windows stay aligned).

So two seeds give different bytes and different answers but the same amount
of work, which is what lets runs with different seeds be compared. Inputs are
cached per (workload, seed) under ``.perfbench_cache/`` in the checkout; the
engine only ever sees the generated parquet files.
"""

from __future__ import annotations

import os
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
KEY_STRIDE = 1_000_000
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
DAY_US = 86_400_000_000

# Sizes per workload. The llm_curation corpus is the engine's sf0.01 fixture
# size; the medallion lands `increments` chronological slices of
# `per_increment` events each (one slice per pass).
SHAPES = {
    "llm_curation": {"documents": 500, "embeddings": 200},
    "medallion": {"increments": 40, "per_increment": 2000, "users": 1500},
}


# --- base corpus (seed-independent) -----------------------------------------

def _documents(rng: np.random.Generator, n: int) -> dict[str, list]:
    words: list[list[str]] = []
    for i in range(n):
        u = rng.random()
        if i > 20 and u < 0.05:
            # near-dup of an earlier doc: drop k leading words, append k markers
            k = int(rng.integers(1, 3))
            words.append(words[int(rng.integers(0, i))][k:] + ["dup"] * k)
        elif i > 20 and u < 0.052:
            words.append(list(words[int(rng.integers(0, i))]))  # exact dup
        else:
            m = int(rng.integers(10, 101))
            words.append([VOCAB[j] for j in rng.integers(0, len(VOCAB), m)])
    text = [" ".join(w) for w in words]
    return {
        "doc_id": list(range(n)),
        "text": text,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in text],
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64):
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return m, rng.integers(0, 10, n).astype(np.int32)


def _events(rng: np.random.Generator, n: int, users: int, null_rate: float):
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n))
    value = np.round(rng.exponential(50.0, n), 2)
    null = rng.random(n) < null_rate
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": value,
        "value_null": null,
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


# --- per-seed transforms -----------------------------------------------------

def _cipher(rng: np.random.Generator) -> dict[int, int]:
    perm = rng.permutation(26)
    return str.maketrans(
        string.ascii_lowercase, "".join(string.ascii_lowercase[j] for j in perm)
    )


def _events_table(ev: dict, idx: np.ndarray, key_off: int, shift_us: int) -> pa.Table:
    return pa.table({
        "event_id": pa.array(ev["event_id"][idx] + key_off),
        "ts": pa.array(ev["ts"][idx] + shift_us, type=pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"][idx] + key_off),
        "event_type": pa.array(ev["event_type"][idx]),
        "value": pa.array(ev["value"][idx], mask=ev["value_null"][idx]),
        "props": pa.array(ev["props"][idx]),
    })


def _write_llm(dst: str, seed: int, shape: dict) -> None:
    base = np.random.default_rng(BASE_SEED)
    docs = _documents(base, shape["documents"])
    emb, labels = _embeddings(base, shape["embeddings"])
    rng = np.random.default_rng([seed, 7])
    off = (seed % 1000) * KEY_STRIDE
    cipher = _cipher(rng)
    order = rng.permutation(len(docs["doc_id"]))
    pq.write_table(pa.table({
        "doc_id": pa.array([docs["doc_id"][i] + off for i in order], type=pa.int64()),
        "text": pa.array([docs["text"][i].translate(cipher) for i in order]),
        "lang": pa.array([docs["lang"][i] for i in order]),
        "source": pa.array([docs["source"][i] for i in order]),
        "n_chars": pa.array([docs["n_chars"][i] for i in order], type=pa.int64()),
    }), os.path.join(dst, "documents.parquet"))
    emb = emb[:, rng.permutation(emb.shape[1])]
    order = rng.permutation(len(emb))
    flat = pa.array(emb[order].ravel(), type=pa.float32())
    pq.write_table(pa.table({
        "vec_id": pa.array(order.astype(np.int64) + off),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(flat) + 1, emb.shape[1], dtype=np.int32)), flat
        ),
        "label": pa.array(labels[order]),
    }), os.path.join(dst, "embeddings.parquet"))


def _write_medallion(dst: str, seed: int, shape: dict) -> None:
    base = np.random.default_rng(BASE_SEED)
    n = shape["increments"] * shape["per_increment"]
    ev = _events(base, n, shape["users"], null_rate=0.005)
    rng = np.random.default_rng([seed, 7])
    off = (seed % 1000) * KEY_STRIDE
    shift = (seed % 97) * DAY_US
    users = shape["users"]
    order = rng.permutation(users)
    pq.write_table(pa.table({
        "c_custkey": pa.array(order.astype(np.int64) + off),
        "c_name": pa.array([f"Customer#{i:09d}" for i in order]),
        "c_nationkey": pa.array(base.integers(0, 25, users).astype(np.int32)[order]),
        "c_acctbal": pa.array(np.round(base.uniform(-999.99, 9999.99, users), 2)[order]),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[base.integers(0, 5, users)][order]),
    }), os.path.join(dst, "customer.parquet"))
    stage = os.path.join(dst, "increments")
    os.makedirs(stage)
    per = shape["per_increment"]
    for k in range(shape["increments"]):
        # chronological slice k, rows shuffled within the slice
        idx = k * per + rng.permutation(per)
        pq.write_table(
            _events_table(ev, idx, off, shift),
            os.path.join(stage, f"events_{k:04d}.parquet"),
        )


WRITERS = {"llm_curation": _write_llm, "medallion": _write_medallion}


def inputs_for(root: str, workload: str, seed: int) -> str:
    """Directory holding ``workload``'s inputs for ``seed``; generated on
    first use, atomically (a half-written directory is never reused)."""
    cache = os.path.join(root, ".perfbench_cache")
    dst = os.path.join(cache, f"{workload}-s{seed}")
    if os.path.exists(os.path.join(dst, "DONE")):
        return dst
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    WRITERS[workload](tmp, seed, SHAPES[workload])
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return dst
