"""RFC 9309 wildcard robots, content-defined chunking."""

from distributed_web_crawler_spark.operators.robots import (
    wildcard_rule_decisions,
)
from distributed_web_crawler_spark.pipeline.dedup import cdc_boundaries


def _decide(spark, path, rules):
    df = spark.createDataFrame(
        [(path, rules)],
        "path string, rules array<struct<allow:boolean,pattern:string>>")
    return wildcard_rule_decisions(df).collect()[0]


def test_rep_dollar_anchor_and_longest_match(spark):
    rules = [(False, "/p/1*"), (True, "/p/15$")]
    assert _decide(spark, "/p/15", rules).allowed is True   # anchored, longer
    assert _decide(spark, "/p/157", rules).allowed is False  # $ rejects
    assert _decide(spark, "/x", rules).allowed is True       # no match


def test_rep_allow_wins_equal_length_tie(spark):
    rules = [(False, "/a/*"), (True, "/a/*")]
    r = _decide(spark, "/a/zzz", rules)
    assert r.allowed is True and r.rule_len == 4


def test_rep_wildcard_mid_pattern_and_literal_dot_escaped(spark):
    rules = [(False, "/a*z$")]
    assert _decide(spark, "/a123z", rules).allowed is False
    assert _decide(spark, "/a123z9", rules).allowed is True
    # '.' in a pattern is a literal octet, not regex any-char
    dot = [(False, "/f.html")]
    assert _decide(spark, "/f.html", dot).allowed is False
    assert _decide(spark, "/fxhtml", dot).allowed is True


def test_cdc_insertion_shifts_only_local_chunks():
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight") * 3
    edited = "XYZ " + base  # insertion at the very front
    a = {base[s:s + ln] for s, ln in cdc_boundaries(base)}
    b = {edited[s:s + ln] for s, ln in cdc_boundaries(edited)}
    # content-defined: most chunks survive the shift
    assert len(a & b) >= len(a) // 2
    # fixed-width slicing would share (almost) nothing after a 4-char shift
    fixed_a = {base[i:i + 32] for i in range(0, len(base), 32)}
    fixed_b = {edited[i:i + 32] for i in range(0, len(edited), 32)}
    assert len(fixed_a & fixed_b) <= 1


def test_cdc_spans_partition_text_exactly():
    t = "abcdefgh" * 40
    spans = cdc_boundaries(t, min_len=8, max_len=48, mask=0x1F)
    assert spans[0][0] == 0
    assert sum(ln for _, ln in spans) == len(t)
    for (s1, l1), (s2, _) in zip(spans, spans[1:]):
        assert s1 + l1 == s2
    assert all(ln <= 48 for _, ln in spans)


