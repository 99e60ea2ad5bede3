from __future__ import annotations

import os
import random

import pandas as pd
import pytest

from pysemantic_spark.session import get_spark

# The session's default driver heap is half the host's memory; the tests'
# data is small, and 4g holds the whole suite (driver JVM peak RSS 4.6-5.1
# GB on a 4-core, 16 GB host) while leaving room for the Python workers.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")


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


@pytest.fixture
def clone_docs(spark):
    """8 byte-identical docs + a near-dup + unrelated docs + 2 identical
    sub-shingle-length shorts (must never pair at n=3)."""
    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, body) for i in range(8)]
    rows.append((100, body.replace("kappa", "lambda")))
    rows.append((200, "one two three four five six seven eight nine ten"))
    rows.append((201, "cats chase mice across seven silent rooftops at night yes"))
    rows += [(300, "too short"), (301, "too short")]
    return spark.createDataFrame(rows, "doc_id long, text string")
