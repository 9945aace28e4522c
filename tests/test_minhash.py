"""Pins for the MinHash kernel (operators/dedup.py::_minhash_sig_wide):
the fixed affine hash family, its arithmetic, and the plan it buys —
one md5 per shingle and a hash (not sort) aggregate of BIGINT minima."""

from __future__ import annotations

import hashlib

from m3d_engine_spark.operators.dedup import (
    MINHASH_PRIME,
    _minhash_sig_wide,
    lsh_bands,
    minhash_coeffs,
)

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "two words"),
]


def test_minhash_family_literals_pinned():
    """Changing p or any (a_j, b_j) re-keys every persisted band
    relation; it must be a deliberate edit of this pin (and of
    dedup.MINHASH_FAMILY), never a refactor's side effect."""
    assert MINHASH_PRIME == 2**31 - 1
    assert minhash_coeffs(2) == (
        (1447053422, 2018637148),
        (176928720, 1840952406),
    )
    for a, b in minhash_coeffs(64):
        assert 1 <= a <= MINHASH_PRIME - 1 and 0 <= b <= MINHASH_PRIME - 1
        # a·x + b for the largest x stays below 2^62: no BIGINT overflow
        assert a * (MINHASH_PRIME - 1) + b < 2**62


def test_minhash_signature_matches_python_reference(spark):
    """h_j = min over the doc's distinct shingles of (a_j·x + b_j) mod p,
    x = first 32 bits of md5(shingle) mod p."""
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    got = {
        r.doc_id: [r[f"h{j}"] for j in range(4)]
        for r in _minhash_sig_wide(df, "doc_id", "text", 4, 3).collect()
    }

    def sig(text: str) -> list[int]:
        toks = text.split()
        shingles = (
            {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
            if len(toks) >= 3 else {" ".join(toks)}
        )
        xs = [
            int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % MINHASH_PRIME
            for s in shingles
        ]
        return [
            min((a * x + b) % MINHASH_PRIME for x in xs)
            for a, b in minhash_coeffs(4)
        ]

    assert got == {i: sig(t) for i, t in _DOCS}


def test_lsh_bands_plan_one_md5_per_shingle_hash_aggregate(spark):
    """The signature min plans as HashAggregate (fixed-width BIGINT
    buffers), and below the band-key posexplode exactly one md5 runs:
    the per-shingle base hash, not one per hash function."""
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    b = lsh_bands(df, "doc_id", "text")
    assert dict(b.dtypes) == {
        "doc_id": "bigint", "band": "int", "band_key": "string"
    }
    plan = b._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        b._jdf.queryExecution(), "simple"
    )
    assert "HashAggregate" in plan and "SortAggregate" not in plan, plan
    lines = plan.splitlines()
    (top,) = [i for i, ln in enumerate(lines) if "Generate posexplode" in ln]
    below = "\n".join(lines[top + 1:])
    assert below.count("md5(") == 1, plan
