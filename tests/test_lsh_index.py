"""ml.ann.LshIndex without Spark: the postings screen against brute force.

The index is built straight from a pyarrow table in the layout Spark
writes a VectorUDT column in (struct<type, size, indices, values>, type 1
= dense) with one size-1 dense vector per hash table. Brute force takes
every single-probe candidate through ``_sqdist`` and sorts by (dist, id);
``neighbors`` must return the same ids with bit-identical distances.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

from movie_recommendation_etl_spark.ml.ann import LshIndex

DIM, TABLES = 12, 3
VEC = pa.struct([
    pa.field("type", pa.int8(), nullable=False),
    pa.field("size", pa.int32()),
    pa.field("indices", pa.list_(pa.field("element", pa.int32(), False))),
    pa.field("values", pa.list_(pa.field("element", pa.float64(), False))),
])


def sparse(terms: dict) -> dict:
    ix = sorted(terms)
    return {"type": 0, "size": DIM, "indices": ix,
            "values": [float(terms[i]) for i in ix]}


def dense(values) -> dict:
    return {"type": 1, "size": None, "indices": None,
            "values": [float(v) for v in values]}


def corpus() -> tuple[list, list]:
    rng = np.random.default_rng(3)
    ids, vecs = [], []

    def add(i, v):
        ids.append(i)
        vecs.append(v)

    add(100, sparse({}))  # empty, first
    for i in range(1, 25):
        terms = rng.choice(10, size=rng.integers(1, 6), replace=False)
        add(i, sparse({int(t): rng.uniform(0.1, 1.0) for t in terms}))
        if i == 8:
            add(101, sparse({}))  # empty, in the middle
    # dense-stored rows: every position stored, zeros at the rare terms
    for i in (30, 31):
        add(i, dense([*rng.uniform(0.0, 1.0, 10), 0.0, 0.0]))
    add(32, vecs[3])  # same vector as id 3: ties, broken by id
    add(7, sparse({0: 0.5, 9: 0.2}))  # repeats id 7 (its second row)
    add(40, sparse({10: 0.6, 11: 0.8}))  # terms no other doc has
    add(102, sparse({}))  # empty, last
    return ids, vecs


def build(ids, vecs, hashes) -> LshIndex:
    h = [[{"type": 1, "size": None, "indices": None, "values": [float(b)]}
          for b in row] for row in hashes]
    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "norm_features": pa.array(vecs, VEC),
        "hashes": pa.array(h, pa.list_(VEC)),
    })
    return LshIndex(table, "id", "norm_features")


def brute_force(index: LshIndex, ids, hashes, q, top_k) -> list[tuple]:
    if q not in ids:
        return []
    r = ids.index(q)
    lo, hi = index.indptr[r], index.indptr[r + 1]
    qi, qv = index.indices[lo:hi], index.values[lo:hi]
    found = [
        (math.sqrt(index._sqdist(j, qi, qv)), ids[j])
        for j in range(len(ids))
        if ids[j] != q
        and any(a == b for a, b in zip(hashes[j], hashes[r]))
    ]
    found.sort()
    return [(i, d) for d, i in found[:top_k]]


def assert_postings_by_term_in_row_order(index: LshIndex) -> None:
    """The postings hold exactly the CSR's (term, row, value) triples, and
    each term's rows ascend."""
    rows = np.repeat(np.arange(len(index)), np.diff(index.indptr))
    csr = sorted(
        zip(index.indices.tolist(), rows.tolist(), index.values.tolist())
    )
    by_term = []
    for t in np.flatnonzero(np.diff(index.p_ptr)).tolist():
        lo, hi = index.p_ptr[t], index.p_ptr[t + 1]
        assert np.all(np.diff(index.p_rows[lo:hi]) > 0), t
        by_term += [(t, r, v) for r, v in zip(
            index.p_rows[lo:hi].tolist(), index.p_vals[lo:hi].tolist()
        )]
    assert by_term == csr


def test_postings_past_16_bit_terms():
    """Term indices on both sides of 2^16 take both radix digits."""
    rows = [{0: 1.0, 70_000: 2.0}, {5: 3.0, 65_536: 4.0, 70_000: 5.0}, {},
            {65_535: 6.0, 65_536: 7.0}, {70_000: 8.0}]
    vecs = [{**sparse(r), "size": 70_001} for r in rows]
    index = build(list(range(len(rows))), vecs, [[0] * TABLES] * len(rows))
    assert index.dim == 70_001
    assert_postings_by_term_in_row_order(index)


def test_postings_screen_matches_brute_force():
    ids, vecs = corpus()
    rng = np.random.default_rng(5)
    # two buckets per table, as at the reference's bucket length; a few
    # rows share no bucket with a given query and are not candidates
    hashes = rng.integers(-1, 1, size=(len(ids), TABLES)).tolist()
    # the second row of id 7 is a candidate for the first
    first, second = (j for j, i in enumerate(ids) if i == 7)
    hashes[second] = hashes[first]
    index = build(ids, vecs, hashes)
    assert index.dim == DIM and len(index) == len(ids)
    assert_postings_by_term_in_row_order(index)

    absent = 999
    for q in [*dict.fromkeys(ids), absent]:
        for k in (1, 2, 5, len(ids)):
            got = index.neighbors(q, k)
            want = brute_force(index, ids, hashes, q, k)
            assert [i for i, _ in got] == [i for i, _ in want], (q, k)
            # bit-identical, not merely close
            assert [d for _, d in got] == [d for _, d in want], (q, k)
    # the repeated id answers from its first row and excludes both rows
    assert all(i != 7 for i, _ in index.neighbors(7, len(ids)))
    # top_k past the candidate count returns every candidate
    r = ids.index(40)
    n_cand = sum(
        ids[j] != 40 and any(a == b for a, b in zip(hashes[j], hashes[r]))
        for j in range(len(ids))
    )
    assert len(index.neighbors(40, len(ids))) == n_cand < len(ids) - 1
