"""Seeded input generators for the benchmark workloads.

Every table follows the engine's input_hint schema

    doc_id: string, tokens: array<int32>, n_tok: int32, source: string

plus `positions: array<int32>` (strictly increasing, for convolution motifs)
or `text: string` (space-joined words, for near-duplicate detection).

The same (spec, seed) always yields byte-identical parquet files.  Output is
cached under the checkout by (workload, seed, generator version, spec); a
directory is trusted only when its completion marker exists, and it is
published by an atomic rename, so a killed run never leaves a truncated
input behind.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: bump whenever generated bytes change, so stale caches are never trusted
GEN_VERSION = 1
COMPLETE = "_COMPLETE"
SOURCES = ["src0", "src1", "src2", "src3"]
#: near-duplicate corpus: every doc with index % DUP_EVERY == 1 copies the
#: doc before it and appends one marker word
DUP_EVERY = 100
DUP_WORD = "xdup"


def _zipf_tokens(rng: np.random.Generator, n: int, alphabet: int, s: float) -> np.ndarray:
    weights = 1.0 / np.arange(1, alphabet + 1, dtype=np.float64) ** s
    cdf = np.cumsum(weights / weights.sum())
    cdf[-1] = 1.0
    return np.searchsorted(cdf, rng.random(n), side="right").astype(np.int32)


def _offsets(lengths: np.ndarray) -> np.ndarray:
    off = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=off[1:])
    return off


def _list_array(offsets: np.ndarray, values: np.ndarray) -> pa.ListArray:
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(values))


def _doc_ids(n: int) -> pa.Array:
    digits = pc.utf8_lpad(pa.array(np.arange(n, dtype=np.int64)).cast(pa.string()), 9, "0")
    return pc.binary_join_element_wise("doc_", digits, "")


def _sources(rng: np.random.Generator, n: int) -> pa.Array:
    codes = pa.array(rng.integers(0, len(SOURCES), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(codes, SOURCES).cast(pa.string())


def token_table(spec: dict, rng: np.random.Generator) -> tuple[pa.Table, dict]:
    """Sequences of Zipf-distributed tokens; `positions` when spec asks."""
    n = spec["rows"]
    lo, hi = spec["n_tok"]
    lengths = rng.integers(lo, hi + 1, n).astype(np.int32)
    off = _offsets(lengths)
    tokens = _zipf_tokens(rng, int(off[-1]), spec["alphabet"], spec["zipf_s"])
    cols = {
        "doc_id": _doc_ids(n),
        "tokens": _list_array(off, tokens),
        "n_tok": pa.array(lengths),
        "source": _sources(rng, n),
    }
    if spec.get("positions"):
        step = rng.integers(1, 4, int(off[-1])).astype(np.int64)
        run = np.cumsum(step)
        row_base = np.repeat(run[off[:-1]] - step[off[:-1]], lengths)
        cols["positions"] = _list_array(off, (run - row_base).astype(np.int32))
    return pa.table(cols), {"rows": n, "tokens": int(off[-1])}


def text_table(spec: dict, rng: np.random.Generator) -> tuple[pa.Table, dict]:
    """Documents of uniform random words with planted near-duplicates: doc i
    (i % DUP_EVERY == 1) is doc i-1 plus the marker word, a word 3-shingle
    Jaccard of (n-2)/(n-1) >= 0.93.  `tokens` holds the word ids (the marker
    word is id `vocab`)."""
    n, vocab = spec["rows"], spec["vocab"]
    lo, hi = spec["n_words"]
    idx = np.arange(n)
    is_dup = (idx % DUP_EVERY) == 1
    base_len = rng.integers(lo, hi + 1, n)
    base_off = _offsets(base_len)
    base_words = rng.integers(0, vocab, int(base_off[-1]))
    src = np.where(is_dup, idx - 1, idx)
    lengths = (base_len[src] + is_dup).astype(np.int32)
    off = _offsets(lengths)
    row = np.repeat(idx, lengths)
    j = np.arange(int(off[-1])) - off[row]
    inside = j < base_len[src[row]]
    gather = np.where(inside, base_off[src[row]] + j, 0)
    words = np.where(inside, base_words[gather], vocab).astype(np.int32)
    names = pa.array([f"w{i}" for i in range(vocab)] + [DUP_WORD])
    text = pc.binary_join(_list_array(off, pc.take(names, pa.array(words))), " ")
    table = pa.table(
        {
            "doc_id": _doc_ids(n),
            "tokens": _list_array(off, words),
            "n_tok": pa.array(lengths),
            "source": _sources(rng, n),
            "text": text,
        }
    )
    return table, {"rows": n, "tokens": int(off[-1]), "planted_pairs": int(is_dup.sum())}


KINDS = {"tokens": token_table, "text": text_table}


def generate(spec: dict, seed: int, out_dir: str) -> dict:
    """Write the table for (spec, seed) as spec["files"] parquet files into
    out_dir (which must not exist); returns the table's meta."""
    rng = np.random.default_rng([seed, int(spec["stream"])])
    table, meta = KINDS[spec["kind"]](spec, rng)
    os.makedirs(out_dir)
    n_files = spec["files"]
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:05d}.parquet"))
    meta["files"] = n_files
    meta["max_file_bytes"] = max(
        os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
    )
    meta["input_bytes"] = sum(
        os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
    )
    return meta


def cache_key(workload: str, spec: dict, seed: int) -> str:
    digest = hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:12]
    return f"{workload}-v{GEN_VERSION}-s{seed}-{digest}"


def cached_input(cache_root: str, workload: str, spec: dict, seed: int) -> tuple[str, dict, bool]:
    """(data dir, meta, generated now?) — generates on a miss."""
    final = os.path.join(cache_root, cache_key(workload, spec, seed))
    marker = os.path.join(final, COMPLETE)
    if os.path.exists(marker):
        with open(marker) as f:
            return os.path.join(final, "data"), json.load(f), False
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)  # unmarked leftovers are never trusted
    os.makedirs(tmp)
    meta = generate(spec, seed, os.path.join(tmp, "data"))
    with open(os.path.join(tmp, COMPLETE), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, final)
    return os.path.join(final, "data"), meta, True


def prune_cache(cache_root: str, keep: int = 8) -> None:
    """Drop abandoned temp dirs and all but the `keep` newest inputs, so the
    cache stays bounded when every run uses a fresh seed."""
    if not os.path.isdir(cache_root):
        return
    entries = [os.path.join(cache_root, e) for e in os.listdir(cache_root)]
    for e in entries:
        if ".tmp-" in os.path.basename(e):
            pid = int(e.rsplit("-", 1)[1])
            if not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(e, ignore_errors=True)
    done = [e for e in entries if os.path.exists(os.path.join(e, COMPLETE))]
    done.sort(key=os.path.getmtime, reverse=True)
    for e in done[keep:]:
        shutil.rmtree(e, ignore_errors=True)
