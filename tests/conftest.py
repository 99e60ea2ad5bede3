from __future__ import annotations

import random

import pandas as pd
import pytest

from pysemantic_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pysemantic_spark_tests", shuffle_partitions=8)
    yield s


EDGE_TEXTS = [
    None,
    "",
    "   ",
    " \t ",
    " \t x ",
    "x",
    "a b",
    "a b a b a",
    "x\u00a0y z w",          # NBSP is NOT java \s: stays inside a token
    "tabs\tbetween\ttokens here",
    "trailing tab\t",
    "a  b   c    d",
    "ŵöřd ünïcode tökens 😀 mixed",
]


@pytest.fixture
def edge_texts():
    """The odd corners of Spark's string semantics (trim strips 0x20 only;
    split keeps leading/trailing empties; NULL text)."""
    return list(EDGE_TEXTS)


@pytest.fixture
def edge_df(spark, edge_texts):
    """``doc_id``/``text`` frame: the edge texts plus 60 random docs."""
    rng = random.Random(7)
    vocab = ["spark", "row", "scan", "a", "the", "dup", "x", "épée"]
    texts = edge_texts + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for _ in range(60)
    ]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
