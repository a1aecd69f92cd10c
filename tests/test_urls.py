"""X3 resolver parity: the Catalyst expression tree (functions.urls
.resolve_url), its Python mirror (resolve_ref_py, used by the golden
model), and urllib.parse.urljoin must agree on the supported subset
(path-only refs against http(s) bases)."""

from urllib.parse import urljoin

import pytest
from pyspark.sql import functions as F

from distributed_web_crawler_spark.functions.urls import (
    resolve_ref_py,
    resolve_url,
)

BASES = [
    "http://h0001.example.com/p/5",
    "http://h0001.example.com/a/b/c",
    "http://h0001.example.com/a/b/",
    "http://h0001.example.com/",
    "http://h0001.example.com",
    "https://h0002.example.com:8080/x/y",
]

HREFS = [
    "",
    "http://other.example.org/z",
    "https://other.example.org/z",
    "ftp://files.example.org/z",
    "//mirror.example.net/m/1",
    "/abs/path",
    "/abs/",
    "rel",
    "rel/sub",
    "./rel",
    "../up",
    "../../way/up",
    "../../../past/root",
    "a/../b",
    "a/./b/",
    "..",
    ".",
    "7",
    "//",
    "///x",
    "///a/../b",
    "//mirror.example.net",
]

JUNK = ["not a url", "junk link 42", "ref\twith\ttabs", "spa ce/path"]


@pytest.fixture(scope="module")
def cases():
    return [(b, h) for b in BASES for h in HREFS]


def test_python_mirror_matches_urljoin(cases):
    for base, href in cases:
        assert resolve_ref_py(base, href) == urljoin(base, href), \
            f"resolve_ref_py({base!r}, {href!r})"


def test_catalyst_matches_python_mirror(spark, cases):
    all_cases = cases + [(b, j) for b in BASES[:2] for j in JUNK]
    df = spark.createDataFrame(all_cases, "base string, href string")
    got = {(r["base"], r["href"]): r["resolved"]
           for r in df.withColumn(
               "resolved", resolve_url(F.col("base"), F.col("href")))
           .collect()}
    for base, href in all_cases:
        assert got[(base, href)] == resolve_ref_py(base, href), \
            f"resolve_url({base!r}, {href!r})"


def test_junk_refs_pass_through_unresolved():
    for j in JUNK:
        assert resolve_ref_py("http://h.example.com/p/1", j) == j


# ---------------------------------------------------------------------------
# hypothesis fuzz: the declared subset (path refs without internal empty
# segments — urljoin itself is inconsistent about '//' inside paths) must
# match urllib.parse.urljoin exactly for any base and any ref shape
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_SEG = st.sampled_from(["a", "b", "c3", "x-y", ".", "..", "p%20q"])
_PATH = st.lists(_SEG, min_size=1, max_size=6).map("/".join)


@st.composite
def _refs(draw):
    body = draw(_PATH)
    prefix = draw(st.sampled_from(["", "/", "./", "../"]))
    suffix = draw(st.sampled_from(["", "/"]))
    return prefix + body + suffix


@st.composite
def _bases(draw):
    host = draw(st.sampled_from(
        ["http://h0001.example.com", "https://h2.example.com:8080"]))
    path = draw(st.sampled_from(
        ["", "/", "/p/5", "/a/b/c", "/a/b/", "/deep/er/est/leaf"]))
    return host + path


@settings(max_examples=300, deadline=None)
@given(base=_bases(), href=_refs())
def test_fuzz_python_mirror_matches_urljoin(base, href):
    assert resolve_ref_py(base, href) == urljoin(base, href), \
        f"resolve_ref_py({base!r}, {href!r})"


# ---------------------------------------------------------------------------
# eTLD+1: Catalyst fold vs Python mirror, edge cases + hypothesis fuzz
# ---------------------------------------------------------------------------

_PLD_CASES = [
    ("site1.com", "site1.com"),
    ("www.site1.com", "site1.com"),
    ("a.b.site1.com", "site1.com"),
    ("x.co.uk", "x.co.uk"),                    # 2-label suffix
    ("www.x.co.uk", "x.co.uk"),
    ("u.github.io", "u.github.io"),            # private registry
    ("a.u.github.io", "u.github.io"),          # longest match wins over 'io'
    ("b.blogspot.com", "b.blogspot.com"),      # longest over 'com'
    ("a.b.blogspot.com", "b.blogspot.com"),
    ("github.io", None),                       # host IS a suffix
    ("co.uk", None),
    ("com", None),
    ("site.internal", "site.internal"),        # unknown TLD: '*' rule
    ("www.site.internal", "site.internal"),
    ("localhost", None),                       # single label, no dot
    (None, None),
]


def test_registered_domain_edge_cases(spark):
    from distributed_web_crawler_spark.functions.urls import (
        registered_domain_of, registered_domain_py)
    for h, want in _PLD_CASES:
        assert registered_domain_py(h) == want, f"py mirror: {h!r}"
    df = spark.createDataFrame([(h,) for h, _ in _PLD_CASES], "h string")
    got = [r["d"] for r in
           df.select(registered_domain_of(F.col("h")).alias("d")).collect()]
    assert got == [want for _, want in _PLD_CASES]


@settings(max_examples=300, deadline=None)
@given(labels=st.lists(
    st.sampled_from(["com", "net", "io", "co", "uk", "github",
                     "blogspot", "www", "a", "b", "site1", "internal"]),
    min_size=1, max_size=5))
def test_fuzz_registered_domain_longest_match_invariants(labels):
    from distributed_web_crawler_spark.functions.urls import (
        PUBLIC_SUFFIXES, registered_domain_py)
    host = ".".join(labels)
    pld = registered_domain_py(host)
    if pld is None:
        # null iff single-label or the host is itself a public suffix of
        # maximal match length (k >= n)
        assert len(labels) == 1 or host in PUBLIC_SUFFIXES or all(
            not (host == s or host.endswith("." + s)) for s in ()), host
    else:
        # the PLD is a dot-boundary suffix of the host, and its own PLD is
        # itself (idempotence)
        assert host == pld or host.endswith("." + pld)
        assert registered_domain_py(pld) == pld


def test_registered_domain_plan_is_map_side(spark):
    """The scalar must not introduce a join/exchange: extracting eTLD+1
    over a scan is a pure projection."""
    from distributed_web_crawler_spark.functions.urls import (
        registered_domain_of)
    df = spark.range(100).select(
        F.concat(F.lit("www.site"), F.col("id"), F.lit(".co.uk")).alias("h"))
    plan = (df.select(registered_domain_of(F.col("h")).alias("d"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Join" not in plan, plan
