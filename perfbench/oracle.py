"""DuckDB oracle for the index probes, computed from the documents parquet
the index was built from.

Tokenizer rule, as the program's: split the text on a single space and drop
empty strings; a word's position is its slot in the raw split, so two words
are adjacent when their slots differ by one.  Answers are shaped as the
program's serving calls return them, so a probe is checked by equality.
"""

from __future__ import annotations

import duckdb
import numpy as np

import gen

TOPK = 10


def fold(ids: list[int]) -> int:
    """The program's polynomial fingerprint over ascending doc ids."""
    arr = np.asarray(ids, np.int64).astype(np.uint32)
    return int(gen.fingerprints(arr, np.array([0, arr.size], np.int64))[0])


class ProbeOracle:
    def __init__(self, documents_parquet: str):
        self.con = duckdb.connect()
        self.con.execute("set threads = 1")
        self.con.execute(
            "create table occ as select did, pos, term from ("
            "  select cast(doc_id as integer) as did,"
            "    unnest(string_split(text, ' ')) as term,"
            "    generate_subscripts(string_split(text, ' '), 1) as pos"
            "  from read_parquet(?)) where term <> ''",
            [documents_parquet])

    def close(self) -> None:
        self.con.close()

    def _ids(self, sql: str, params: list) -> list[int]:
        return [r[0] for r in self.con.execute(sql, params).fetchall()]

    def answer(self, kind: str, terms: tuple[str, ...]):
        """The expected answer of one probe; see ``result`` for shapes."""
        if kind in ("intersect_terms", "intersect_terms_multi"):
            ids = self._ids(
                "select did from occ where list_contains(?, term) "
                "group by did having count(distinct term) = ? order by did",
                [list(terms), len(terms)])
            return len(ids), fold(ids)
        if kind == "phrase_match_terms":
            ids = self._ids(
                "select distinct a.did from occ a join occ b "
                "on a.did = b.did and b.pos = a.pos + 1 "
                "where a.term = ? and b.term = ? order by a.did",
                list(terms))
            return len(ids), fold(ids)
        rows = self.con.execute(
            "select did, cast(count(*) filter (where term = ?) as integer)"
            " as tf_a, cast(count(*) filter (where term = ?) as integer)"
            " as tf_b from occ where term in (?, ?) group by did "
            "having tf_a > 0 and tf_b > 0 "
            "order by tf_a + tf_b desc, did limit ?",
            [terms[0], terms[1], terms[0], terms[1], TOPK]).fetchall()
        return [(d, a, b, a + b) for d, a, b in rows]


def result(kind: str, rows: list) -> tuple[object, int]:
    """(comparable answer, result size) of one probe's collected rows:
    (count, fingerprint) for the boolean and phrase probes, the ordered
    (did, tf_a, tf_b, score) rows for top-k."""
    if kind == "topk_and_terms":
        got = [tuple(r) for r in rows]
        return got, len(got)
    (row,) = rows
    count = row["n_docs" if kind == "phrase_match_terms" else "n_common"]
    return (count, row["fingerprint"]), count
