"""Text training-mix heuristics over `documents`, outside the crawl.

Pure Catalyst expressions (JVM-side, whole-stage codegen, no UDFs):
whitespace and sub-token counts, a quality score, a stopword-hit
language ID, and the four table operators built on them — the text
training-mix stage ladder and its dataset-card report, tokenizer
fertility, and Wilson-bounded per-source quality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .multimodal import WS_PLUS

# tiny per-language marker lexicons for the heuristic language-ID
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "value", "data"],
    "es": ["el", "la", "de", "que"],
    "fr": ["le", "la", "et", "les"],
    "de": ["der", "die", "das", "und"],
}
STOPWORDS = ("the", "a", "of", "and", "to", "in")


# Every word the scoring heuristics look for, folded into ONE alternation:
# a single regexp_extract_all pass per document replaces the ~24 per-word
# split() scans the naive form needs. Equivalence: \b<word>\b matches are
# exactly the word tokens equal to <word>, tokens are disjoint, and for a
# given token exactly one alternative can satisfy both boundaries — so the
# multiset of alternation matches equals the union of per-word matches
# (the form the DuckDB oracle mirrors). The collapsed expression tree also
# keeps the enclosing whole-stage-codegen method under the JVM's 64 KB
# limit — the per-word form blew past it when fused with a partial
# aggregate and fell back to interpreted execution.
_SCORED_WORDS = tuple(sorted(
    set(STOPWORDS) | {w for ws in LANG_MARKERS.values() for w in ws}))
_HITS_PATTERN = r"\b(" + "|".join(_SCORED_WORDS) + r")\b"


def word_hits(text: Column) -> Column:
    """All marker/stopword occurrences in one regex pass (array of words).
    Compute once and pass to quality_score() AND lang_id() to share it."""
    return F.regexp_extract_all(F.lower(text), F.lit(_HITS_PATTERN), F.lit(1))


def _hits_in(hits: Column, words) -> Column:
    """How many extracted hits fall in ``words`` — cheap array op."""
    return F.size(F.filter(hits, lambda x: x.isin(*words)))


def tokens(text: Column) -> Column:
    """Whitespace tokenization of already-trimmed text."""
    return F.split(F.trim(text), WS_PLUS)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word token estimate: alnum runs + punctuation marks each count
    (a cheap stand-in for a BPE vocabulary; deterministic + SQL-mirrorable)."""
    alnum_runs = F.size(F.split(F.trim(text), r"[^A-Za-z0-9]+"))
    puncts = F.length(F.regexp_replace(text, r"[A-Za-z0-9 \t\n\r\f\x0B]", ""))
    return alnum_runs + puncts


def quality_score(text: Column, hits: Column | None = None) -> Column:
    """0..1 heuristic: longer docs, low punctuation density and a healthy
    stopword ratio score higher. Deterministic closed form. Pass the shared
    ``word_hits(text)`` column when also computing lang_id to keep the
    scan at one regex pass total."""
    if hits is None:
        hits = word_hits(text)
    n = F.length(text)
    words = token_count(text).cast("double")
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9 \t\n\r\f\x0B]", "")).cast("double")
    stop_hits = _hits_in(hits, STOPWORDS).cast("double")
    len_score = F.least(n.cast("double") / F.lit(500.0), F.lit(1.0))
    punct_penalty = F.least(punct / F.greatest(words, F.lit(1.0)), F.lit(1.0))
    stop_score = F.least(stop_hits / F.greatest(words, F.lit(1.0)) * 5.0,
                         F.lit(1.0))
    return F.round(0.5 * len_score + 0.3 * stop_score
                   + 0.2 * (1.0 - punct_penalty), 6)


def lang_id(text: Column, hits: Column | None = None) -> Column:
    """Pick the language with the most marker-word hits; 'und' if none.
    Ties break by fixed language order (en, es, fr, de)."""
    if hits is None:
        hits = word_hits(text)
    scores = {lang: _hits_in(hits, words)
              for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    expr = F.when(best <= 0, F.lit("und"))
    for lang in ("en", "es", "fr", "de"):
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def source_quota_sample(df: DataFrame, cap: int = 10,
                        group_col: str = "source",
                        id_col: str = "doc_id",
                        denom: int = 1_000_000) -> DataFrame:
    """Per-group quota cap — domain balancing for a training mix: keep at
    most ``cap`` rows per group, chosen DETERMINISTICALLY by
    (pmod(xxhash64(id), denom), id) rank. A reproducible uniform pick
    per group, stable under partitioning and retries; unlike rate-based
    sampling, the cap bounds a dominant domain's contribution outright
    (the Common-Crawl dominant-host problem) and a domain's kept set
    never changes when OTHER domains grow.

    Plan: one rank window per group; Spark plans the rank ≤ cap filter
    as WindowGroupLimit with a PARTIAL limit below the exchange — every
    map task forwards at most cap rows per group it sees, so the
    exchange carries O(groups × cap) rows per task, never the corpus.

    Returns (id_col, group_col, quota_rank)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(denom)), F.col(id_col))
    return (df.select(id_col, group_col)
            .withColumn("quota_rank", F.row_number().over(w))
            .where(F.col("quota_rank") <= cap))


def training_mix_stages(documents: DataFrame, quality_bar: float = 0.5,
                        holdout_mod: int = 5, decontam_w: int = 8,
                        quota_cap: int = 10) -> dict[str, DataFrame]:
    """The text training-mix cost ladder as named stages (the text twin
    of multimodal._mix_stages): lang/quality gate → exact dedup →
    eval-split holdout → w-gram decontamination → per-source quota.
    training_mix_report counts every rung."""
    from .dedup import decontaminate_flags, exact_dedup

    t = F.col("text")
    h = word_hits(t)
    scored = documents.select(
        "doc_id", "source", "text",
        lang_id(t, hits=h).alias("_lang"),
        quality_score(t, hits=h).alias("_q"))
    gated = (scored
             .where((F.col("_lang") == "en") & (F.col("_q") >= quality_bar))
             .select("doc_id", "source", "text"))
    deduped = exact_dedup(gated)
    train = deduped.where(F.col("doc_id") % holdout_mod != 0)
    evald = documents.where(F.col("doc_id") % holdout_mod == 0)
    contam = decontaminate_flags(train, evald, w=decontam_w) \
        .select("doc_id")
    clean = train.join(contam, "doc_id", "left_anti")
    quota_ids = source_quota_sample(clean, cap=quota_cap) \
        .select("doc_id")
    final = clean.join(quota_ids, "doc_id")
    return {"scored": scored, "gated": gated, "deduped": deduped,
            "train": train, "clean": clean, "quota": final}


def training_mix_report(documents: DataFrame, quality_bar: float = 0.5,
                        holdout_mod: int = 5, decontam_w: int = 8,
                        quota_cap: int = 10) -> DataFrame:
    """Dataset-card accounting for the TEXT training mix — the auditable "where did my corpus
    go" table a 100 TB curation run publishes next to its packed
    manifest. One row per pipeline rung (kind='stage': raw → gated →
    deduped → train → clean → quota) plus the gate's rejection
    breakdown (kind='reject': first-failing rule — non_en before
    low_quality, the gate's own predicate order).

    Scale shape: each rung's count is one partial agg over an id
    projection of the shared stage ladder; the reject breakdown is a
    map-only groupBy on the scored frame. Text crosses the plan once
    per rung that needs it (the same stages the mix itself runs). Gate
    params forward to training_mix_stages so the reject breakdown below
    always uses the SAME quality bar as the stage counts."""
    stages = training_mix_stages(documents, quality_bar=quality_bar,
                                 holdout_mod=holdout_mod,
                                 decontam_w=decontam_w,
                                 quota_cap=quota_cap)

    def stage_count(df: DataFrame, key: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("rows")).select(
            F.lit("stage").alias("kind"), F.lit(key).alias("key"), "rows")

    out = stage_count(documents, "raw")
    for key in ("gated", "deduped", "train", "clean", "quota"):
        out = out.unionByName(stage_count(stages[key], key))
    rejects = (stages["scored"]
               .where(~((F.col("_lang") == "en")
                        & (F.col("_q") >= quality_bar)))
               .select(F.when(F.col("_lang") != "en", F.lit("non_en"))
                       .otherwise(F.lit("low_quality")).alias("key"))
               .groupBy("key").agg(F.count(F.lit(1)).alias("rows"))
               .select(F.lit("reject").alias("kind"), "key", "rows"))
    return out.unionByName(rejects)


def tokenizer_fertility(documents: DataFrame,
                        text_col: str = "text") -> DataFrame:
    """Per (source, lang) tokenizer-fertility audit: sub-tokens per
    whitespace word and characters per sub-token — the standard check
    that a tokenizer isn't exploding some language's token budget
    (fertility ≈1 for English-like BPE vocab, ≫1 signals a vocabulary
    gap; see the XLM-R / NLLB tokenizer analyses). One scan + one hash
    aggregate; ratios are computed on the aggregated BIGINT sums (never
    per row), rounded 1e-6 for cross-engine stability."""
    t = F.col(text_col)
    per = documents.select(
        "source", "lang",
        token_count(t).cast("long").alias("w"),
        bpe_ish_token_count(t).cast("long").alias("s"),
        F.length(t).cast("long").alias("c"))
    g = per.groupBy("source", "lang").agg(
        F.sum("w").cast("long").alias("words"),
        F.sum("s").cast("long").alias("subtokens"),
        F.sum("c").cast("long").alias("chars"))
    dbl = lambda c: F.col(c).cast("double")
    return g.select(
        "source", "lang", "words", "subtokens",
        F.round(dbl("subtokens") / dbl("words"), 6).alias("fertility"),
        F.round(dbl("chars") / dbl("subtokens"), 6)
        .alias("chars_per_subtoken"))


def source_quality_bounds(documents: DataFrame, tau: float = 0.5,
                          z: float = 1.96,
                          text_col: str = "text") -> DataFrame:
    """Per-source quality pass rate with its Wilson-score lower bound —
    the statistically honest way to rank crawl sources for inclusion
    when sources have wildly different document counts (a 3/3 source
    must NOT outrank a 950/1000 one; Wilson 1927, the standard fix).
    One scan + one hash aggregate; the bound is computed on aggregated
    counts only, with a fixed IEEE op order mirrored by the SQL oracle.
    Returns (source, n_docs, passes, pass_rate, wilson_lb)."""
    t = F.col(text_col)
    per = documents.select(
        "source", (quality_score(t) >= F.lit(tau)).cast("long").alias("ok"))
    g = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ok").cast("long").alias("passes"))
    n = F.col("n_docs").cast("double")
    p = F.col("passes").cast("double") / n
    zl = F.lit(z)
    z2 = zl * zl
    denom = F.lit(1.0) + z2 / n
    center = p + z2 / (F.lit(2.0) * n)
    margin = zl * F.sqrt((p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * n)) / n)
    return g.select(
        "source", "n_docs", "passes",
        F.round(p, 6).alias("pass_rate"),
        F.round((center - margin) / denom, 6).alias("wilson_lb"))


