"""Seeded input generators and generator-side expected answers.

Everything here is plain NumPy/PyArrow and imports nothing from
``streamvbyte_spark``: a change to the program under test cannot change the
inputs it is measured on, nor the answers it is checked against.

Token families follow FIXTURES.md and are assigned round-robin by doc index:
token_zipf, rand_shifted, near_sorted_gap, zero_heavy, runs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FAMILIES = ("token_zipf", "rand_shifted", "near_sorted_gap", "zero_heavy",
            "runs")
SOURCES = ("web", "code", "rare")
SOURCE_P = (0.80, 0.15, 0.05)

# the polynomial fold the program's fingerprint columns carry:
# acc = ((acc * 31 + t) % P + P) % P over the signed int32 token values
FP_P = 1_000_000_007
FP_B = 31

# doc lengths that sit on the reference kernels' tail-group and SIMD-block
# boundaries (FIXTURES.md "Edge lengths"); the first docs of every corpus
# take them so every run covers them
EDGE_LENGTHS = (0, 1, 2, 3, 4, 5, 7, 8, 31, 32, 33, 127, 128)


def _family_values(rng: np.random.Generator, fam: int, lens: np.ndarray
                   ) -> np.ndarray:
    """Flat uint32 values for docs of one family, concatenated in order."""
    n = int(lens.sum())
    name = FAMILIES[fam]
    if name == "token_zipf":
        return ((rng.zipf(1.1, n) - 1) % 50257).astype(np.uint32)
    if name == "rand_shifted":
        r = rng.integers(0, 2**31, n, dtype=np.uint32)
        return r >> rng.integers(0, 32, n, dtype=np.uint32)
    if name == "near_sorted_gap":
        # v[0] = rand()%8; v[k] = v[k-1] + gap - 1 + rand()%8 with a per-doc
        # gap 3^g, g capped so the doc's last value stays below 2^31
        cap = np.floor(np.log(2**31 / (8.0 * (lens + 1))) / np.log(3))
        g = rng.integers(0, np.clip(cap, 0, 18).astype(np.int64) + 1)
        gap = np.repeat(3 ** g, lens)
        inc = (gap - 1 + rng.integers(0, 8, n)).astype(np.int64)
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        live = starts[lens > 0]
        inc[live] = rng.integers(0, 8, live.size)
        c = np.concatenate([[0], np.cumsum(inc)])
        return (c[1:] - np.repeat(c[starts], lens)).astype(np.uint32)
    if name == "zero_heavy":
        z = np.repeat(rng.uniform(0.5, 0.9, lens.size), lens)
        geo = rng.geometric(0.02, n).astype(np.uint32)
        return np.where(rng.random(n) < z, np.uint32(0), geo)
    # runs: geometric run lengths (mean 16) of zipf-drawn values
    run_id = np.cumsum(rng.random(n) < 1 / 16)
    vals = ((rng.zipf(1.2, int(run_id[-1]) + 1 if n else 1) - 1)
            % 50257).astype(np.uint32)
    return vals[run_id]


def token_corpus(seed: int, n_docs: int, max_len: int
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(flat uint32 values, int64 offsets, source index per doc).

    Lengths are uniform on [1, max_len] (mean ~max_len/2) after the leading
    EDGE_LENGTHS docs; sources are web/code/rare at 80/15/5."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(1, max_len + 1, n_docs).astype(np.int64)
    k = min(len(EDGE_LENGTHS), n_docs)
    lens[:k] = EDGE_LENGTHS[:k]
    src = rng.choice(len(SOURCES), n_docs, p=SOURCE_P).astype(np.int8)
    offsets = np.zeros(n_docs + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.empty(int(offsets[-1]), np.uint32)
    fam = np.arange(n_docs) % len(FAMILIES)
    pos_fam = np.repeat(fam, lens)
    for f in range(len(FAMILIES)):
        sel = fam == f
        flat[pos_fam == f] = _family_values(rng, f, lens[sel])
    return flat, offsets, src


def doc_ids(n_docs: int) -> pa.Array:
    return pa.array([f"doc{i:08d}" for i in range(n_docs)], pa.string())


def write_token_table(path: str, flat: np.ndarray, offsets: np.ndarray,
                      src: np.ndarray, row_groups: int) -> None:
    """Write the canonical (doc_id, tokens, n_tok, source) table as one
    parquet file of ``row_groups`` row groups, so the scan splits across
    that many tasks."""
    n = offsets.size - 1
    tokens = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                      pa.array(flat.view(np.int32)))
    table = pa.table({
        "doc_id": doc_ids(n),
        "tokens": tokens,
        "n_tok": pa.array(np.diff(offsets).astype(np.int32)),
        "source": pa.array(np.asarray(SOURCES, dtype=object)[src],
                           pa.string()),
    })
    pq.write_table(table, path, row_group_size=-(-n // row_groups))


def fingerprints(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row polynomial fold of the signed int32 values, int64.

    Expanded form of the fold: fp = sum_j (t_j mod P) * B^(L-1-j) mod P.
    Both factors are below 2^30, so each product fits an int64, and a row
    sum of at most 2^31 reduced terms stays below 2^61."""
    lens = np.diff(offsets)
    n = int(offsets[-1])
    if n == 0:
        return np.zeros(lens.size, np.int64)
    pw = np.ones(int(lens.max()), np.int64)
    for k in range(1, pw.size):
        pw[k] = pw[k - 1] * FP_B % FP_P
    vals = np.remainder(flat[:n].view(np.int32).astype(np.int64), FP_P)
    exp = np.repeat(offsets[1:], lens) - 1 - np.arange(n)
    vals = vals * pw[exp] % FP_P
    csum = np.zeros(n + 1, np.int64)
    np.cumsum(vals, out=csum[1:])
    return (csum[offsets[1:]] - csum[offsets[:-1]]) % FP_P


# --- documents corpus and probe mix for the index layer -------------------

# a word is a probe term when at least this many documents hold it (the
# same threshold the program's own term rule uses)
MIN_DF = 5
PROBE_KINDS = ("intersect_terms", "intersect_terms_multi", "topk_and_terms",
               "phrase_match_terms")
PROBE_ARITY = {"intersect_terms": 2, "intersect_terms_multi": 3,
               "topk_and_terms": 2, "phrase_match_terms": 2}


def documents(seed: int, n_docs: int, vocab: int = 48, mean_words: int = 54,
              rare: int = 8) -> pa.Table:
    """A (doc_id int64, text, source) table shaped like the testdata
    ``documents``: words drawn Zipf-like (weight 1/rank) from ``vocab``
    common words, joined by single spaces; ``rare`` more words each land in
    fewer than MIN_DF docs, so the probe pool is a real filter."""
    rng = np.random.default_rng([seed, 11])
    words = np.array([f"w{i:02d}" for i in range(vocab)]
                     + [f"rare{i}" for i in range(rare)], dtype=object)
    p = 1.0 / np.arange(1, vocab + 1)
    lens = rng.integers(mean_words // 2, mean_words * 3 // 2 + 1, n_docs)
    draw = rng.choice(vocab, int(lens.sum()), p=p / p.sum())
    text = [" ".join(ws) for ws in
            np.split(words[draw], np.cumsum(lens)[:-1])]
    for i in range(rare):
        for d in rng.choice(n_docs, min(n_docs, MIN_DF - 1), replace=False):
            text[d] += f" rare{i}"
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "source": pa.array(np.asarray(SOURCES, dtype=object)[
            rng.choice(len(SOURCES), n_docs, p=SOURCE_P)], pa.string()),
    })


def term_pool(docs: pa.Table) -> list[str]:
    """Sorted words held by at least MIN_DF documents (split on a single
    space, empty strings dropped)."""
    df: dict[str, int] = {}
    for text in docs.column("text").to_pylist():
        for w in set(text.split(" ")) - {""}:
            df[w] = df.get(w, 0) + 1
    return sorted(w for w, n in df.items() if n >= MIN_DF)


def probe_mix(seed: int, pool: list[str], n: int
              ) -> list[tuple[str, tuple[str, ...]]]:
    """``n`` probes (kind, distinct terms).  Every block of four holds each
    kind once, in a seeded order; terms are drawn from ``pool``."""
    rng = np.random.default_rng([seed, 13])
    out = []
    while len(out) < n:
        for k in rng.permutation(len(PROBE_KINDS)):
            kind = PROBE_KINDS[k]
            terms = rng.choice(len(pool), PROBE_ARITY[kind], replace=False)
            out.append((kind, tuple(pool[t] for t in terms)))
    return out[:n]
