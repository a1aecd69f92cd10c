"""Cross-engine tokenization pin: Spark (Java regex) and DuckDB (RE2)
must count tokens IDENTICALLY over exotic whitespace, or every packing /
chunking / n-gram oracle silently diverges (the round-3 driver red on
sequence_packing/training_mix). The engine splits on the explicit class
``pipeline.multimodal.WS_PLUS`` = ``[ \\t\\n\\r\\f\\x0B]+`` — Java's \\s spelled
out, because RE2's \\s omits \\x0B — and every string_split_regex oracle
uses the same literal. These tests fail if either side drifts back to
``\\s+``."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from distributed_web_crawler_spark.pipeline import text as ptext

# The characters that historically diverge between regex dialects:
# \x0b (VT: in Java \s, not RE2 \s), \x85 /   /   (unicode
# whitespace: in Python's str \s, in neither Java-ASCII nor RE2 \s).
EXOTIC = [
    "plain words here",
    "",
    " ",
    "a\x0bb",            # vertical tab mid-token
    "\x0b",              # VT only
    "a\tb\nc\rd\fe",     # every ASCII separator
    "\ta leading tab",
    "trailing tab\t",
    "nb sp",        # NBSP must NOT split
    "next line",    # U+2028 must NOT split
    "ogham space",
    "a  b   c",          # runs collapse
    " padded  both  ends ",
]


def _duck_counts(texts):
    con = duckdb.connect()
    rows = con.execute(
        "SELECT len(string_split_regex(trim(t), '[ \t\n\r\f\x0B]+')) "
        "FROM (SELECT unnest(?) AS t)", [texts]).fetchall()
    con.close()
    return [r[0] for r in rows]


def _spark_counts(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    out = df.select(ptext.token_count(F.col("t")).alias("n")).collect()
    return [r.n for r in out]


def test_exotic_whitespace_token_counts_agree(spark):
    assert _spark_counts(spark, EXOTIC) == _duck_counts(EXOTIC)


def test_vertical_tab_splits_both_sides(spark):
    # the round-3 suspect char: both engines must treat \x0B as a split
    got = _spark_counts(spark, ["a\x0bb"])
    assert got == [2] == _duck_counts(["a\x0bb"])


def test_unicode_space_does_not_split_either_side(spark):
    got = _spark_counts(spark, ["nb sp", "next line"])
    assert got == [1, 1] == _duck_counts(["nb sp", "next line"])


@settings(max_examples=30, deadline=None)
@given(st.lists(st.text(
    alphabet=st.sampled_from(list("ab ") + ["\t", "\n", "\r", "\f",
                                            "\x0b", " ", " "]),
    max_size=12), min_size=1, max_size=8))
def test_token_count_parity_fuzz(spark, docs):
    assert _spark_counts(spark, docs) == _duck_counts(docs)


