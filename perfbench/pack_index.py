"""Layers the traced run measures beside the codec passes.

* ``packing_layer`` — ``operators.packing``: ``pack_tokens_encoded`` (the
  construction-time stage build included) into a parquet sink, then
  ``decode_packs(verify_checksum=True)``, over a sample of the workload's
  own corpus.  Checked against generator-side per-source token count, sum
  and sum of squares.
* ``index_layer`` — ``operators.index`` and ``operators.staging``: the set,
  TF and positional chunked builds over a generated documents table, each
  put through ``staging.materialize``; then seeded probes (one of each kind
  as warm-up, then ``PROBES`` traced), each checked against a DuckDB
  oracle; then ``staging.release`` of the three indexes.

Both run once per traced run, so their figures carry no bound; the
end-to-end metrics never include them.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracle as orc
import tracing as tr

PACK_TOKENS = 1_000_000
INDEX_DOCS = 5_000
PROBES = 8

PACK_METRICS = [
    ("packing.construct_s", "s"), ("packing.exec_s", "s"),
    ("packing.shuffle_bytes_written", "B"), ("packing.shuffle_write_ms", "ms"),
    ("packing.shuffle_records", "count"), ("packing.python_init_ms", "ms"),
    ("packing.python_total_ms", "ms"), ("packing.arrow_bytes_sent", "B"),
    ("packing.stages", "count"), ("packing.tasks", "count"),
    ("packing.packs", "count"), ("decode_packs.exec_s", "s")]
INDEX_METRICS = [
    ("staging.materialize_s", "s"), ("index.build_s.set", "s"),
    ("index.build_s.tf", "s"), ("index.build_s.pos", "s"),
    ("index.probes", "count"), ("index.probe_construct_ms", "ms"),
    ("index.probe_exec_ms", "ms"), ("index.jobs_per_probe", "count"),
    ("index.stages_per_probe", "count"), ("index.tasks_per_probe", "count"),
    ("index.python_init_ms_per_probe", "ms"),
    ("index.python_boot_ms_per_probe", "ms"),
    ("index.rows_examined_per_result", "count")]


def source_sums(src: np.ndarray, values: np.ndarray, lens: np.ndarray
                ) -> dict[str, tuple[int, int, int]]:
    """source -> (token count, sum, sum of squares) of the signed int32
    tokens; the sums wrap modulo 2^64 the same way on both sides."""
    tok_src = np.repeat(src, lens)
    v = values.view(np.int32).astype(np.int64)
    out = {}
    for s in np.unique(tok_src):
        x = v[tok_src == s]
        out[str(s)] = (int(x.size), int(x.sum()), int((x * x).sum()))
    return out


def packing_layer(ctx, flat: np.ndarray, offsets: np.ndarray,
                  srcs: np.ndarray) -> dict[str, float]:
    """One warm-up and one traced write + read of the pack sink."""
    from streamvbyte_spark.operators.packing import (
        decode_packs, derived_string_order, pack_tokens_encoded)
    spark = ctx.spark
    src = os.path.join(ctx.work, "pack_input.parquet")
    dst = os.path.join(ctx.work, "packs")
    gen.write_token_table(src, flat, offsets, srcs, row_groups=8)
    lens = np.diff(offsets)
    names = np.asarray(gen.SOURCES, dtype=object)
    want = source_sums(names[srcs], flat, lens)
    stored = {"packs": 0}

    def write():
        t0 = time.perf_counter()
        with ctx.span("packing.construct", "pack"):
            tok = spark.read.parquet(src)
            packs = pack_tokens_encoded(
                tok, emit="encoded", order_bucket=derived_string_order(tok))
        with ctx.span("packing.execute_sink", "pack"):
            packs.write.mode("overwrite").parquet(dst)
        wall = time.perf_counter() - t0
        n_tok = pq.read_table(dst, columns=["n_tok"]).column("n_tok")
        stored["packs"] = len(n_tok)
        return pc.sum(n_tok).as_py() == int(lens.sum()), wall

    def read():
        t0 = time.perf_counter()
        with ctx.span("decode_packs.execute", "pack"):
            got = decode_packs(spark.read.parquet(dst), verify_checksum=True,
                               fingerprint=False
                               ).select("source", "tokens").toArrow()
        wall = time.perf_counter() - t0
        tokens = got.column("tokens").combine_chunks()
        sums = source_sums(
            np.asarray(got.column("source").to_pylist(), dtype=object),
            tokens.flatten().to_numpy(),
            pc.list_value_length(tokens).to_numpy(zero_copy_only=False))
        return sums == want, wall

    tracer, ctx.tracer = ctx.tracer, None
    for traced in (False, True):
        ctx.tracer = tracer if traced else None
        ctx.attempt("pack.write", write)
        ctx.attempt("pack.read", read)
    ctx.tracer = tracer

    built = tracer.select("packing.construct")[-1:] + \
        tracer.select("packing.execute_sink")[-1:]
    dec = tracer.select("decode_packs.execute")
    return {
        "packing.construct_s": tr.median(
            [tr.seconds(s) for s in tracer.select("packing.construct")]),
        "packing.exec_s": tr.median(
            [tr.seconds(s) for s in tracer.select("packing.execute_sink")]),
        "packing.shuffle_bytes_written":
            tr.sql_sum(built, "shuffleBytesWritten"),
        "packing.shuffle_write_ms": tr.sql_sum(built, "shuffleWriteTime"),
        "packing.shuffle_records":
            tr.sql_sum(built, "shuffleRecordsWritten"),
        "packing.python_init_ms": tr.sql_sum(built, "pythonInitTime"),
        "packing.python_total_ms": tr.sql_sum(built, "pythonTotalTime"),
        "packing.arrow_bytes_sent": tr.sql_sum(built, "pythonDataSent"),
        "packing.stages": sum(s.get("stages", 0) for s in built),
        "packing.tasks": sum(s.get("tasks", 0) for s in built),
        "packing.packs": stored["packs"],
        "decode_packs.exec_s": tr.median([tr.seconds(s) for s in dec]),
    }


def _probe(index: dict, kind: str, terms: tuple[str, ...]):
    from streamvbyte_spark.operators import index as ix
    if kind == "intersect_terms":
        return ix.intersect_terms(index["set"], *terms)
    if kind == "intersect_terms_multi":
        return ix.intersect_terms_multi(index["set"], list(terms))
    if kind == "topk_and_terms":
        return ix.topk_and_terms(index["tf"], *terms, k=orc.TOPK)
    return ix.phrase_match_terms(index["pos"], *terms)


def index_layer(ctx) -> dict[str, float]:
    from streamvbyte_spark.operators import index as ix
    from streamvbyte_spark.operators.staging import materialize, release
    spark, tracer = ctx.spark, ctx.tracer
    docs = gen.documents(ctx.seed, max(200, int(INDEX_DOCS * ctx.scale)))
    path = os.path.join(ctx.work, "documents.parquet")
    pq.write_table(docs, path)
    probes = gen.probe_mix(ctx.seed, gen.term_pool(docs),
                           len(gen.PROBE_KINDS) + PROBES)
    oracle = orc.ProbeOracle(path)
    index: dict = {}
    builds = {"set": ix.build_index_chunked, "tf": ix.build_index_tf_chunked,
              "pos": ix.build_index_pos_chunked}
    results: list[int] = []

    def build(kind: str):
        def op():
            t0 = time.perf_counter()
            with ctx.span(f"index.build.{kind}", "index", leaf=False):
                with ctx.span(f"index.construct.{kind}", "index"):
                    df = builds[kind](spark.read.parquet(path))
                with ctx.span(f"staging.materialize.{kind}", "index"):
                    index[kind] = materialize(df)
            return True, time.perf_counter() - t0
        return op

    def probe(n: int, kind: str, terms: tuple[str, ...]):
        def op():
            t0 = time.perf_counter()
            with ctx.span("probe.construct", f"probe-{n}"):
                df = _probe(index, kind, terms)
            with ctx.span("probe.execute", f"probe-{n}"):
                rows = df.collect()
            wall = time.perf_counter() - t0
            got, size = orc.result(kind, rows)
            if ctx.tracer is not None:
                results.append(size)
            return got == oracle.answer(kind, terms), wall
        return op

    try:
        for kind in builds:
            ctx.attempt(f"index.build.{kind}", build(kind))
        for n, (kind, terms) in enumerate(probes):
            # the first block of four, one probe of each kind, warms up
            ctx.tracer = tracer if n >= len(gen.PROBE_KINDS) else None
            ctx.attempt(f"probe.{kind}", probe(n, kind, terms))
    finally:
        ctx.tracer = tracer
        oracle.close()
        for df in index.values():
            release(df)

    cons, execs = tracer.select("probe.construct"), \
        tracer.select("probe.execute")
    per = max(1, len(execs))
    spans = cons + execs
    m = {
        "staging.materialize_s": sum(
            tr.seconds(s) for k in builds
            for s in tracer.select(f"staging.materialize.{k}")),
        "index.probes": len(execs),
        "index.probe_construct_ms":
            1e3 * tr.median([tr.seconds(s) for s in cons]),
        "index.probe_exec_ms":
            1e3 * tr.median([tr.seconds(s) for s in execs]),
        "index.jobs_per_probe": sum(s["jobs"] for s in spans) / per,
        "index.stages_per_probe": sum(s["stages"] for s in spans) / per,
        "index.tasks_per_probe": sum(s["tasks"] for s in spans) / per,
        "index.python_init_ms_per_probe":
            tr.sql_sum(spans, "pythonInitTime") / per,
        "index.python_boot_ms_per_probe":
            tr.sql_sum(spans, "pythonBootTime") / per,
        # index chunk rows the probes' filters kept, per result row
        "index.rows_examined_per_result":
            tr.sql_sum(spans, "filterOutputRows") / max(1, sum(results)),
    }
    for k in builds:
        m[f"index.build_s.{k}"] = sum(
            tr.seconds(s) for s in tracer.select(f"index.build.{k}"))
    return m
