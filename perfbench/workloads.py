"""The benchmark workloads.

Both workloads drive ``operators.encode.encode_table(codec="auto")`` into a
parquet sink, then scan the stored table and decode it with
``decode_table(verify_checksum=True, fingerprint=True)``; no shuffle and no
stage build.  They differ in where the work goes.  Two traced runs of
each (seed 3, 4 cores, at different host speeds) split a pass's core time
(exec wall x 4) into direct single-thread kernel time, and fitted the rest
as a cost per token plus a cost per row: about 14-19 us/row both times,
while the per-token part moved with host speed (210-390 ns/token for
encode, 120-260 for decode).

* ``codec_longdocs`` — ~12k documents of mean ~1024 tokens (~12M tokens):
  bound by tokens.  Kernels took 20-31% of encode and 19-34% of decode core
  time, per-token work outside them (the Arrow crossing of the values)
  60-77%, per-row work under 10%.
* ``codec_shortdocs`` — ~100k documents of mean ~64 tokens (~6M tokens):
  bound by rows.  Kernels took 14-18%, and per-row work outside them
  (offsets, doc ids and row handling on both sides of the crossing) 36-59%
  of encode and decode core time.

A change to kernel or per-token crossing speed should move the first
most; a change to per-row overhead the second.  Every operation's output
is checked against generator-side answers, and a failed check counts as a
failed operation without ending the run.  The traced run also measures
the packing, staging and index layers once (``pack_index.py``).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import pack_index
import tracing as tr

# codecs the auto selector chooses from; one rows_<codec> counter each
AUTO_CODECS = ("svb", "svb0124", "svb_delta", "bitpack", "for", "dict",
               "rle")

LAYER_METRICS = (
    [("session.start_s", "s")]
    + [(f"codec.{m}", u) for m, u in (
        ("encode_ns_per_tok", "ns"), ("decode_ns_per_tok", "ns"),
        ("cost_ns_per_tok", "ns"), ("fingerprint_ns_per_tok", "ns"),
        ("encode_ns_per_row", "ns"), ("ef_decode_ns_per_posting", "ns"),
        ("wire_bytes_per_token", "B"), ("svb_bytes_per_token", "B"))]
    + [(f"codec.rows_{c}", "count") for c in AUTO_CODECS]
    + [(f"{side}.{m}", u) for side in ("encode", "decode") for m, u in (
        ("construct_ms", "ms"), ("exec_s", "s"), ("python_boot_ms", "ms"),
        ("python_init_ms", "ms"), ("python_total_ms", "ms"),
        ("arrow_bytes_sent", "B"), ("arrow_bytes_received", "B"),
        ("tasks", "count"))]
    + [("sink.write_s", "s"), ("sink.bytes_written", "B"),
       ("scan.read_s", "s"), ("scan.files_bytes", "B")]
    + pack_index.PACK_METRICS + pack_index.INDEX_METRICS
    + [("staging.jvm_cached_mb", "MiB")]
    + [("process.driver_rss_mb", "MiB"), ("process.peak_worker_rss_mb", "MiB"),
       ("trace.overhead_frac", "ratio")]
)


class Ctx:
    """Per-run state shared by a workload's operations."""

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer: tr.Tracer | None = None
        self.attempted = 0
        self.failed = 0

    def span(self, name: str, op: str, leaf: bool = True):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, op, leaf)

    def attempt(self, kind: str, fn) -> float | None:
        """Run one checked operation; ``fn`` returns (correct, wall
        seconds).  An exception or a wrong answer counts as a failure and
        the run goes on.  Returns the wall of a correct operation."""
        self.attempted += 1
        try:
            ok, wall = fn()
            if not ok:
                print(f"[perfbench] {kind}: wrong answer", file=sys.stderr)
        except Exception:  # boundary: a failed operation is counted
            ok = False
            print(f"[perfbench] {kind} failed:\n{traceback.format_exc()}",
                  file=sys.stderr)
        if ok:
            return wall
        self.failed += 1
        return None


def rate(work: float, seconds: float) -> float:
    """Work per second; 0 when no operation of the kind was correct."""
    return work / seconds if seconds else 0.0


def _parquet_rows_bytes(path: str) -> tuple[int, int]:
    """(row count, total bytes) of a parquet directory."""
    files = [os.path.join(path, f) for f in os.listdir(path)
             if f.endswith(".parquet")]
    return (sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            sum(os.path.getsize(f) for f in files))


def svb_formula_bytes(flat: np.ndarray, offsets: np.ndarray) -> int:
    """Reference stream size: ceil(n/4) control bytes plus 1-4 data bytes
    per value (streamvbyte_encode.c)."""
    n = np.diff(offsets)
    data = (1 + (flat > 0xFF).astype(np.int64) + (flat > 0xFFFF)
            + (flat > 0xFFFFFF)).sum()
    return int(((n + 3) // 4).sum() + data)


def codec_layer(ctx: Ctx, flat: np.ndarray, offsets: np.ndarray,
                sorted_flat: np.ndarray, sorted_offsets: np.ndarray
                ) -> dict[str, float]:
    """Direct single-thread ``codec.batched`` timings on a sample, best of
    three (the driver process, no Spark).  The round trip is checked as
    one more operation."""
    from streamvbyte_spark.codec import batched

    def best(fn, *a):
        ts, out = [], None
        for _ in range(3):
            t0 = time.perf_counter_ns()
            out = fn(*a)
            ts.append(time.perf_counter_ns() - t0)
        return min(ts), out

    toks = max(1, flat.size)
    rows = max(1, offsets.size - 1)
    t_enc, (out, ooff, cids) = best(batched.encode_rows, flat, offsets,
                                    "auto")
    t_dec, (dflat, _) = best(batched.decode_rows, out, ooff,
                             np.diff(offsets), cids)
    ctx.attempt("codec", lambda: (np.array_equal(dflat, flat), t_dec))
    t_cost, _ = best(batched.row_costs, flat, offsets,
                     batched.VECTOR_COST_CODECS, True)
    t_fp, _ = best(batched.fingerprint_rows, flat.view(np.int32), offsets)
    ef, efoff = batched.ef_encode_rows(sorted_flat, sorted_offsets)
    t_ef, _ = best(batched.ef_decode_rows, ef, efoff,
                   np.diff(sorted_offsets))
    m = {
        "codec.encode_ns_per_tok": t_enc / toks,
        "codec.decode_ns_per_tok": t_dec / toks,
        "codec.cost_ns_per_tok": t_cost / toks,
        "codec.fingerprint_ns_per_tok": t_fp / toks,
        "codec.encode_ns_per_row": t_enc / rows,
        "codec.ef_decode_ns_per_posting": t_ef / max(1, sorted_flat.size),
        "codec.wire_bytes_per_token": out.size / toks,
        "codec.svb_bytes_per_token": svb_formula_bytes(flat, offsets) / toks,
    }
    counts = np.bincount(cids, minlength=len(batched.CODEC_NAMES))
    for c in AUTO_CODECS:
        m[f"codec.rows_{c}"] = int(counts[batched.CODEC_ID[c]])
    return m


def sample_rows(flat: np.ndarray, offsets: np.ndarray, rows: np.ndarray):
    """(flat, offsets) of the chosen rows, in the given order."""
    lens = np.diff(offsets)[rows]
    starts = offsets[:-1][rows]
    idx = (np.repeat(starts - np.concatenate([[0], np.cumsum(lens)[:-1]]),
                     lens) + np.arange(int(lens.sum())))
    return (np.ascontiguousarray(flat[idx]),
            np.concatenate([[0], np.cumsum(lens)]).astype(np.int64))


class CodecWorkload:
    """Write passes (encode + parquet sink) alternate with read passes
    (scan + decode + verify) over a generated token corpus; the subclasses
    set its shape.  Each pass is one checked operation, timed whole."""

    name = ""
    n_docs = 0
    max_len = 0
    row_groups = 16
    # minimum passes of each kind in the measured phase; the first
    # write after warm-up can still run ~1.4x slow, and the median keeps it
    # out.  A traced run traces every other pass of each kind.
    min_passes = 4
    min_passes_traced = 6
    warm_rounds = 2
    KINDS = ("write", "read")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, f"{self.name}_input.parquet")
        self.dst = os.path.join(ctx.work, f"{self.name}_stored")
        self.walls: dict[tuple[str, bool], list[float]] = {}
        self.stored_bytes = 0
        # called with the stored dir after every write (tests corrupt it)
        self.after_write = None

    def setup(self) -> None:
        n = max(len(gen.EDGE_LENGTHS) + 1, int(self.n_docs * self.ctx.scale))
        self.flat, self.offsets, self.srcs = gen.token_corpus(
            self.ctx.seed, n, self.max_len)
        self.tokens = int(self.flat.size)
        self.expected_fp = gen.fingerprints(self.flat, self.offsets)
        gen.write_token_table(self.src, self.flat, self.offsets, self.srcs,
                              self.row_groups)

    def run(self, kind: str, n: int, tracer: tr.Tracer | None = None
            ) -> float | None:
        """Pass ``n`` of a kind; returns its wall when correct."""
        self.ctx.tracer = tracer
        with self.ctx.span(kind, f"{kind}-{n}", leaf=False):
            wall = self.ctx.attempt(kind, getattr(self, f"{kind}_op"))
        self.ctx.tracer = None
        return wall

    def warm(self) -> None:
        """First passes run 1.5-3x slower than warm ones (JIT, worker
        start, page cache): run ``warm_rounds`` rounds of each kind before
        measuring.  Passes keep speeding up for a few rounds more; the
        median of the measured passes keeps those out."""
        for n in range(-self.warm_rounds, 0):
            for kind in self.KINDS:
                self.run(kind, n)

    def measure(self, seconds: float, tracer: tr.Tracer | None) -> None:
        need = self.min_passes_traced if tracer else self.min_passes
        deadline = time.perf_counter() + seconds
        n = 0
        while n < need or time.perf_counter() < deadline:
            traced = tracer is not None and n % 2 == 1
            for kind in self.KINDS:
                wall = self.run(kind, n, tracer if traced else None)
                if wall is not None:
                    self.walls.setdefault((kind, traced), []).append(wall)
            n += 1

    def wall(self, kind: str, traced: bool = False) -> float:
        return tr.median(self.walls.get((kind, traced), []))

    def overhead(self) -> float:
        """Traced over untraced median pass wall, summed over kinds,
        minus 1."""
        traced = sum(self.wall(k, True) for k in self.KINDS)
        plain = sum(self.wall(k) for k in self.KINDS)
        return traced / plain - 1 if plain else 0.0

    def stored_check(self) -> bool:
        """Stored row count, and the stored size for bytes_per_token."""
        rows, self.stored_bytes = _parquet_rows_bytes(self.dst)
        if self.after_write is not None:
            self.after_write(self.dst)
        return rows == self.offsets.size - 1

    def end_to_end(self) -> dict[str, float]:
        return {
            "write_tok_per_s": rate(self.tokens, self.wall("write")),
            "read_tok_per_s": rate(self.tokens, self.wall("read")),
            "bytes_per_token": self.stored_bytes / self.tokens,
        }

    def scan_sink_layer(self) -> dict[str, float]:
        """Scan-only pass of the stored table (into the no-op sink), and a
        sink-only pass that writes an in-memory copy of it (lineage cut by
        localCheckpoint)."""
        from streamvbyte_spark.operators.staging import release
        spark = self.ctx.spark
        stored = spark.read.parquet(self.dst)
        with self.ctx.span("scan", "scan") as sc:
            stored.write.format("noop").mode("overwrite").save()
        held = stored.localCheckpoint(eager=True)
        copy = os.path.join(self.ctx.work, "sink_copy")
        with self.ctx.span("sink", "sink") as sk:
            held.write.mode("overwrite").parquet(copy)
        release(held)
        shutil.rmtree(copy, ignore_errors=True)
        return {"scan.read_s": tr.seconds(sc),
                "scan.files_bytes": sc["sql"].get("filesSize", 0.0),
                "sink.write_s": tr.seconds(sk),
                "sink.bytes_written": sk["sql"].get("numOutputBytes", 0.0)}

    def codec_sample(self):
        """A seeded sample of 1/8 of this corpus' rows, and the sampled
        rows that are non-decreasing (for the Elias-Fano timing)."""
        rng = np.random.default_rng([self.ctx.seed, 7])
        n = self.offsets.size - 1
        rows = np.sort(rng.choice(n, max(1, n // 8), replace=False))
        flat, off = sample_rows(self.flat, self.offsets, rows)
        row_of = np.repeat(np.arange(rows.size), np.diff(off))
        drop = (np.diff(flat.astype(np.int64)) < 0) & \
            (row_of[1:] == row_of[:-1])
        mono = np.ones(rows.size, bool)
        mono[row_of[1:][drop]] = False
        sflat, soff = sample_rows(flat, off, np.flatnonzero(mono))
        return flat, off, sflat, soff

    def pack_sample(self):
        """Seeded rows of this corpus holding about PACK_TOKENS tokens
        (scaled), in corpus order: (flat, offsets, source per row)."""
        rng = np.random.default_rng([self.ctx.seed, 9])
        lens = np.diff(self.offsets)
        order = rng.permutation(lens.size)
        want = pack_index.PACK_TOKENS * self.ctx.scale
        k = int(np.searchsorted(np.cumsum(lens[order]), want)) + 1
        rows = np.sort(order[:k])
        return (*sample_rows(self.flat, self.offsets, rows), self.srcs[rows])

    def write_op(self):
        from streamvbyte_spark.operators.encode import encode_table
        spark = self.ctx.spark
        t0 = time.perf_counter()
        with self.ctx.span("encode.construct", "write"):
            enc = encode_table(spark.read.parquet(self.src), codec="auto")
        with self.ctx.span("encode.execute_sink", "write"):
            enc.write.mode("overwrite").parquet(self.dst)
        wall = time.perf_counter() - t0
        return self.stored_check(), wall

    def read_op(self):
        from streamvbyte_spark.operators.encode import decode_table
        spark = self.ctx.spark
        t0 = time.perf_counter()
        with self.ctx.span("decode.construct", "read"):
            dec = decode_table(spark.read.parquet(self.dst),
                               verify_checksum=True, fingerprint=True)
        with self.ctx.span("decode.execute", "read"):
            got = dec.select("doc_id", "n_tok", "fingerprint").toArrow()
        wall = time.perf_counter() - t0
        # doc ids are "doc" + the row index (gen.doc_ids)
        n = self.expected_fp.size
        idx = pc.cast(pc.utf8_slice_codeunits(got.column("doc_id"), 3),
                      pa.int64()).to_numpy()
        ok = idx.size == n and np.array_equal(np.sort(idx), np.arange(n))
        if ok:
            fp = np.empty(n, np.int64)
            fp[idx] = got.column("fingerprint").to_numpy()
            n_tok = np.empty(n, np.int64)
            n_tok[idx] = got.column("n_tok").to_numpy()
            ok = (np.array_equal(fp, self.expected_fp)
                  and np.array_equal(n_tok, np.diff(self.offsets)))
        return ok, wall

    def layers(self, tracer: tr.Tracer) -> dict[str, float]:
        self.ctx.tracer = tracer
        m = self.scan_sink_layer()
        m.update(pack_index.packing_layer(self.ctx, *self.pack_sample()))
        m.update(pack_index.index_layer(self.ctx))
        self.ctx.tracer = None
        m.update(codec_layer(self.ctx, *self.codec_sample()))
        for side, run_span in (("encode", "encode.execute_sink"),
                               ("decode", "decode.execute")):
            runs = tracer.select(run_span)
            m[f"{side}.construct_ms"] = 1e3 * tr.median(
                [tr.seconds(s) for s in tracer.select(f"{side}.construct")])
            m[f"{side}.exec_s"] = tr.median([tr.seconds(s) for s in runs])
            n = max(1, len(runs))
            for key, name in (("pythonBootTime", "python_boot_ms"),
                              ("pythonInitTime", "python_init_ms"),
                              ("pythonTotalTime", "python_total_ms"),
                              ("pythonDataSent", "arrow_bytes_sent"),
                              ("pythonDataReceived",
                               "arrow_bytes_received")):
                m[f"{side}.{name}"] = tr.sql_sum(runs, key) / n
            m[f"{side}.tasks"] = sum(s["tasks"] for s in runs) / n
        return m


class CodecLongdocs(CodecWorkload):
    """~12k docs of mean ~1024 tokens: per-token work dominates."""

    name = "codec_longdocs"
    n_docs = 12_000
    max_len = 2048


class CodecShortdocs(CodecWorkload):
    """~100k docs of mean ~64 tokens: the same calls, but per-row work
    outside the kernels dominates."""

    name = "codec_shortdocs"
    n_docs = 100_000
    max_len = 127


WORKLOADS = {w.name: w for w in (CodecLongdocs, CodecShortdocs)}
