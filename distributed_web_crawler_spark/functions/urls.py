"""URL scalar functions (SURVEY.md §2.6 X1-X8) — all JVM-side built-ins.

The reference extracts hosts with ``new URL(u).getHost()``
(core/WebCrawler.java:199-200) and resolves relative links with Jsoup's
``abs:href`` (core/WebCrawler.java:341). We use ``parse_url`` /
regex built-ins so the hot path stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HTTP_URL_RE = r"^https?://"

# RFC 3986 reference charset: a ref containing anything else (spaces,
# control chars, …) is junk and must NOT be resolved — it stays verbatim so
# F8 drops it identically on the engine and golden sides.
_REF_CHARSET_RE = r"^[A-Za-z0-9._~:/?#\[\]@!$&'()*+,;=%-]+$"
# has a scheme (http:, https:, ftp:, mailto:, …) ⇒ already absolute
_HAS_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:"


def host_of(url: Column) -> Column:
    """X1: URL → host. Null for unparseable URLs (drops them at F8).
    try_parse_url, not parse_url: Spark 4's parse_url raises on invalid
    URLs, and one malformed href in 10^10 must not kill the job."""
    return F.try_parse_url(url, F.lit("HOST"))


def path_of(url: Column) -> Column:
    return F.try_parse_url(url, F.lit("PATH"))


def is_http_url(url: Column) -> Column:
    """F8 validity: http(s) scheme + parseable host. (The reference accepts
    any java.net.URL scheme at core/WebCrawler.java:355; we restrict to
    http(s), which the golden model mirrors.)"""
    return url.rlike(HTTP_URL_RE) & host_of(url).isNotNull()


def _normalize_path(path: Column) -> Column:
    """RFC 3986 §5.2.4 remove_dot_segments for an absolute path: fold the
    segment array left, skipping '' / '.' and popping on '..' (clamped at
    root, as urljoin does). Pure Catalyst higher-order functions — stays in
    whole-stage codegen, no UDF on the per-link hot path."""
    segs = F.aggregate(
        F.split(path, "/"),
        F.array().cast("array<string>"),
        lambda acc, s: (
            F.when((s == "") | (s == "."), acc)
            .when(s == "..",
                  F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))))
            .otherwise(F.concat(acc, F.array(s)))))
    norm = F.concat(F.lit("/"), F.array_join(segs, "/"))
    # a ref ending in '/', '/.' or '/..' names a directory — keep the slash
    return F.when(path.rlike(r"/(\.{0,2})?$") & ~norm.rlike("/$"),
                  F.concat(norm, F.lit("/"))).otherwise(norm)


def base_parts(base: Column) -> tuple[Column, Column, Column]:
    """(authority, scheme, base_dir) of a base URL — the per-BASE half of
    X3 resolution, split out so callers resolving many refs against one
    page (extract_children: ~max_out_links hrefs share a parent) evaluate
    these three regexes once per page instead of once per link."""
    authority = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    scheme = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    base_path = F.regexp_replace(
        F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1),
        r"[^/]*$", "")  # directory of the base path ('' when path is empty)
    base_dir = F.when(base_path == "", F.lit("/")).otherwise(base_path)
    return authority, scheme, base_dir


def resolve_url(base: Column, href: Column) -> Column:
    """X3: relative→absolute URL resolution (reference: Jsoup ``abs:href``,
    core/WebCrawler.java:341), as a Catalyst expression tree.

    Subset semantics (mirrored exactly by ``resolve_ref_py`` for the golden
    model and property-tested — including a hypothesis fuzz — against
    urllib.parse.urljoin): path-only references against an http(s) base —
    absolute refs pass through, ``//host/…`` takes the base scheme,
    ``/path`` the base authority, relative paths resolve against the base
    directory with full dot-segment normalization. Outside the subset:
    query/fragment refs and junk (non-RFC-3986 charset) pass through
    unresolved (downstream F8 validity drops what remains invalid), and
    internal empty path segments (``/a//b``) are collapsed — urljoin
    itself is inconsistent there (collapses them in relative refs, keeps
    them in absolute ones)."""
    authority, scheme, base_dir = base_parts(base)
    return resolve_url_with_parts(base, authority, scheme, base_dir, href)


def resolve_url_with_parts(base: Column, authority: Column, scheme: Column,
                           base_dir: Column, href: Column) -> Column:
    """X3 body over precomputed ``base_parts`` columns (see resolve_url
    for the semantics contract)."""
    return (
        F.when(href.isNull() | (href == ""), base)
        .when(~href.rlike(_REF_CHARSET_RE), href)        # junk: untouched
        .when(href.rlike(_HAS_SCHEME_RE), href)          # already absolute
        .when(~base.rlike(HTTP_URL_RE), href)            # non-http base
        # scheme-relative with a real authority
        .when(href.rlike("^//[^/?#]"), F.concat(scheme, F.lit(":"), href))
        # '//' with EMPTY authority: urljoin keeps the base authority —
        # bare '//' resolves to the base, '///x' to an absolute path
        .when(href == "//", base)
        .when(href.rlike("^///"),
              F.concat(authority, _normalize_path(F.substring(href, 3, 1 << 20))))
        .when(href.rlike("^(//)?[?#]"), href)            # outside the subset
        .when(href.rlike("^/"), F.concat(authority, _normalize_path(href)))
        .otherwise(F.concat(authority,
                            _normalize_path(F.concat(base_dir, href))))
    )


def resolve_ref_py(base: str, href: str) -> str:
    """Python mirror of ``resolve_url`` for the sequential golden model.
    Must stay semantically identical to the Catalyst tree above —
    tests/test_urls.py property-checks both against each other and against
    urllib.parse.urljoin on the supported subset."""
    import re

    if href is None or href == "":
        return base
    if not re.match(_REF_CHARSET_RE, href):
        return href
    if re.match(_HAS_SCHEME_RE, href):
        return href
    if not re.match(HTTP_URL_RE, base):
        return href
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)", base)
    scheme, netloc, bpath = m.group(1), m.group(2), m.group(3)
    authority = f"{scheme}://{netloc}"
    if re.match(r"^//[^/?#]", href):
        return f"{scheme}:{href}"
    if href == "//":
        return base
    if href.startswith("///"):
        path = href[2:]          # empty authority: urljoin keeps base's
    elif href.startswith("//") or href[0] in "?#":
        return href
    elif href.startswith("/"):
        path = href
    else:
        base_dir = re.sub(r"[^/]*$", "", bpath) or "/"
        path = base_dir + href
    segs: list[str] = []
    for s in path.split("/"):
        if s in ("", "."):
            continue
        if s == "..":
            if segs:
                segs.pop()
        else:
            segs.append(s)
    norm = "/" + "/".join(segs)
    if re.search(r"/(\.{0,2})?$", path) and not norm.endswith("/"):
        norm += "/"
    return authority + norm


"""Public-suffix list for registered-domain (eTLD+1) extraction. The real
Mozilla PSL is ~9k rules; the algorithm below is rule-count-invariant (the
list rides as ONE literal array column, folded map-side), so swapping in
the full PSL is a data change, not a code change. This subset covers the
shapes the tests exercise: plain TLDs, two-label ccTLD suffixes, and
private-registry suffixes (github.io / blogspot.com style)."""
PUBLIC_SUFFIXES = ("com", "net", "org", "io", "co.uk", "org.uk",
                   "com.au", "github.io", "blogspot.com")


def registered_domain_of(host: Column,
                         suffixes: tuple[str, ...] = PUBLIC_SUFFIXES,
                         ) -> Column:
    """Registered domain (eTLD+1) of a hostname: one label + the LONGEST
    matching public suffix ('a.b.blogspot.com' → 'b.blogspot.com', not
    'blogspot.com'). PSL semantics at the edges: a host that IS a public
    suffix has no registrable domain (null); an unknown TLD falls back to
    the PSL default '*' rule (suffix = last label ⇒ eTLD+1 = last two),
    and a single-label host (no dot) is null.

    The reference keys politeness on the raw hostname
    (core/WebCrawler.java:214-220 via crawl_state host rows); grouping at
    eTLD+1 is what production crawlers do so a subdomain farm
    (*.blogspot.com) cannot multiply one site's budget by minting hosts.

    Scale shape: a scalar expression — split + ONE aggregate fold over the
    literal suffix array + slice/join, entirely map-side inside
    whole-stage codegen. No join, no shuffle, no UDF: at 10^10 frontier
    rows the suffix list is evaluated in-register per row, and the fold is
    O(|PSL|) with a tiny constant (string endswith)."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    # longest matching suffix, measured in labels; 0 = no rule matched
    best_k = F.aggregate(
        F.lit(list(suffixes)), F.lit(0),
        lambda acc, s: F.when(
            (host == s) | F.endswith(host, F.concat(F.lit("."), s)),
            F.greatest(acc, F.size(F.split(s, r"\.")))).otherwise(acc))
    k = F.when(best_k == 0, F.lit(1)).otherwise(best_k)  # '*' default rule
    return F.when(host.isNull() | (k >= n), F.lit(None).cast("string")
                  ).otherwise(F.array_join(F.slice(labels, n - k, k + 1), "."))


def registered_domain_py(host: str | None,
                         suffixes: tuple[str, ...] = PUBLIC_SUFFIXES,
                         ) -> str | None:
    """Python mirror of ``registered_domain_of`` (same PSL subset rules),
    for the sequential golden model and property tests."""
    if host is None:
        return None
    best_k = 0
    for s in suffixes:
        if host == s or host.endswith("." + s):
            best_k = max(best_k, s.count(".") + 1)
    k = best_k or 1
    labels = host.split(".")
    if k >= len(labels):
        return None
    return ".".join(labels[len(labels) - k - 1:])


def combined_allow_pattern(patterns: tuple[str, ...]) -> str | None:
    """F3: OR-fold the allow-list into one anchored regex; None = allow all
    (reference: core/WebCrawler.java:218-229 — empty list allows all)."""
    if not patterns:
        return None
    return "^(?:" + "|".join(f"(?:{p})" for p in patterns) + ")$"


def combined_exclude_pattern(patterns: tuple[str, ...]) -> str | None:
    """F4: OR-fold exclude regexes; reference uses full-match semantics
    (Matcher.matches(), core/WebCrawler.java:232-238), hence anchoring."""
    if not patterns:
        return None
    return "^(?:" + "|".join(f"(?:{p})" for p in patterns) + ")$"


# URL category blocklist (UT1 / Shallalist shape): production crawlers
# front the frontier with a category list of host suffixes and path
# prefixes (adult/ads/malware/...) so blocked trees never consume fetch
# budget. The reference has only the allow/exclude regex gates
# (core/WebCrawler.java:218-238); a category list is the operational
# form those gates take at fleet scale.

def blocklist_category(url: Column,
                       rules: tuple[tuple[str, str, str], ...]) -> Column:
    """First-match-wins blocklist category for an absolute URL, or null.

    ``rules`` is an ordered tuple of (category, host_suffix, path_prefix):
    a URL matches when its host equals the suffix or ends with
    '.'+suffix, AND its path starts with path_prefix ('' = any path).
    Earlier rules win, so callers put specific exemptions first (the
    UT1 convention).

    Scale shape: like `registered_domain_of` this is ONE aggregate fold
    over a literal rules array — string compares per rule, entirely
    map-side inside whole-stage codegen; no join, no shuffle, no UDF.
    A real 3M-entry UT1 list would swap the literal array for a
    broadcast join on the host key; the fold is the ≤~10k-rule tier.
    The expensive per-row pieces — the two try_parse_url calls — are
    bound ONCE through a single-element transform lambda (Catalyst does
    not CSE expressions re-inlined into higher-order lambdas, so naively
    referencing host/path inside the fold parses the URL per rule); rule
    fields are pre-split host-side (no per-row split of rule strings).
    Rules must not contain tab characters (retained for the encoding
    assertion only).
    """
    if not rules:  # empty list blocks nothing (and F.lit([]) is untyped)
        return F.lit(None).cast("string")
    for cat, suf, pre in rules:
        assert "\t" not in f"{cat}{suf}{pre}", "tab inside blocklist rule"
    cats = F.lit([c for c, _, _ in rules])
    sufs = F.lit([s for _, s, _ in rules])
    pres = F.lit([p for _, _, p in rules])
    idxs = F.lit(list(range(1, len(rules) + 1)))

    def _fold(hp: Column) -> Column:
        h, p = hp["h"], hp["p"]
        return F.when(h.isNull(), F.lit(None).cast("string")).otherwise(
            F.aggregate(
                idxs, F.lit(None).cast("string"),
                lambda acc, i: F.coalesce(
                    acc,
                    F.when(
                        ((h == F.element_at(sufs, i)) |
                         F.endswith(h, F.concat(F.lit("."),
                                                F.element_at(sufs, i)))) &
                        F.startswith(p, F.element_at(pres, i)),
                        F.element_at(cats, i)))))

    hp = F.array(F.struct(
        host_of(url).alias("h"),
        F.coalesce(path_of(url), F.lit("")).alias("p")))
    return F.element_at(F.transform(hp, _fold), 1)
