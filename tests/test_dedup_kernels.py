"""Shingle kernel pins (operators/dedup.py ``_shingles``).

The kernel reads a projected token column: splitting the text inside
the ``transform`` lambda re-split the whole document once per shingle.
These tests pin that no shingle call site plans a ``split`` inside a
lambda, and that the kernel's output equals a pure-Python reference on
the edge cases of the token rule (``split(text, ' ')``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from frinesis_spark.operators import dedup as D


def _lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` call in a plan string, parens
    matched."""
    out = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth = 0
        for j in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                out.append(plan[start : j + 1])
                break
        start = plan.find("lambdafunction(", start + 1)
    return out


def _optimized(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _checkpointed_plans(spark, monkeypatch, build) -> list[str]:
    """Optimized plans of every frame ``build()`` localCheckpoints (the
    shingle index and the minhash base are returned checkpointed, so
    their own plans no longer show the kernel)."""
    plans = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    real = cls.localCheckpoint

    def spy(self, *a, **kw):
        plans.append(_optimized(self))
        return real(self, *a, **kw)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    build()
    return plans


def _docs(spark):
    rows = [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(8)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("site", ["shingle_index", "minhash", "decontaminate"])
def test_no_split_inside_shingle_lambda(spark, sf_dir, monkeypatch, site):
    if site == "shingle_index":
        plans = _checkpointed_plans(
            spark, monkeypatch, lambda: D._shingle_index(_docs(spark))
        )
    elif site == "minhash":
        plans = _checkpointed_plans(
            spark, monkeypatch, lambda: D._minhash_signatures(_docs(spark))
        )
    else:
        plans = [_optimized(D.q_dedup_decontaminate(spark, sf_dir))]
    bodies = [b for p in plans for b in _lambda_bodies(p)]
    assert any("concat_ws" in b for b in bodies), plans  # kernel planned
    assert not [b for b in bodies if "split(" in b], plans


def _reference(text):
    """Pure-Python statement of the kernel: distinct 3-word windows in
    first-seen order over ``text.split(' ')`` (empty tokens kept, as
    Spark's split keeps them); fewer than 3 words give one window of
    all of them; NULL text gives one empty shingle."""
    if text is None:
        return [""]
    words = text.split(" ")
    out = []
    for i in range(max(len(words) - 2, 1)):
        s = " ".join(words[i : i + D._SHINGLE])
        if s not in out:
            out.append(s)
    return out


_CASES = [
    None,
    "",
    "one",
    "two words",
    "three word text",
    "double  space here now",
    " leading space text",
    "trailing space text ",
    "   ",
    "naïve café über straße 東京 タワー",
    "a b c a b c a b c",
    "x x x x x",
]


def test_shingles_match_python_reference(spark):
    docs = spark.createDataFrame(
        list(enumerate(_CASES)), "doc_id long, text string"
    )
    got = {
        r.doc_id: list(r.sh)
        for r in D._with_words(docs)
        .select("doc_id", D._shingles().alias("sh"))
        .collect()
    }
    assert got == {i: _reference(t) for i, t in enumerate(_CASES)}
