"""Dedup-group formation for the training handoff, plus three corpus
dedup steps.

- connected_components / assign_clusters turn the pairwise output of a
  near-dup generator into dedup groups. The training manifest runs them
  inside `pipeline.multimodal.image_variant_dedup`.
- exact_dedup and decontaminate_flags are rungs of the text training mix
  (`pipeline.text.training_mix_stages`); cdc_boundaries is the
  content-defined chunker. These three sit outside the crawl.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the min-doc_id representative per identical text (md5 key —
    same operator shape as crawl D1).

    Winner via `min_by(struct(row), doc_id)` aggregation: the struct
    buffer makes Spark pick SortAggregate (struct buffers are not
    UnsafeRow-mutable), but the partial aggregate still combines map-side,
    so the exchange carries ~one row per distinct text instead of every
    row — the row_number window this replaced shuffled the full table and
    then sorted every hash group."""
    winner = (documents
              .groupBy(F.md5(F.col(text_col)).alias("_k"))
              .agg(F.min_by(F.struct(*documents.columns), "doc_id")
                   .alias("_row")))
    return winner.select("_row.*")


# --------------------------------------------------------------------------
# near-dup cluster formation: distributed connected components
# --------------------------------------------------------------------------

def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_iters: int = 50) -> DataFrame:
    """(node, cluster_id) for every node with at least one non-self edge
    in ``pairs``; cluster_id is the component's minimum node id.

    Turns the pairwise output of ANY near-dup generator (exact / n-gram /
    MinHash / SimHash / pHash / embedding) into dedup groups — the step
    between "these documents look alike" and "keep one representative per
    group". Reference analog: the content_hash grouping intent of
    the reference schema's content_hash index, generalized to fuzzy
    edges.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", public). Converges in
    O(log² n) rounds on ANY graph (near-dup graphs are usually dense
    band-bucket cliques that finish in 2-3), each round two shuffles on
    the node-id key. Neighborhoods are never materialized as arrays —
    both stars are min-aggregate + join-back, so a hub node costs a
    hash-agg row, not a collect_list — and every intermediate edge set is
    id-pairs only, O(E) rows. Iterates via localCheckpoint to truncate
    lineage (on a real cluster point spark.checkpoint.dir at durable
    storage and use checkpoint() if executor loss matters; rounds are
    few). Convergence test is (count, bit_xor of pair-hash) equality —
    order-independent, overflow-free.
    """
    a, b = F.col("a"), F.col("b")
    # canonical directed form: a > b, nulls/self-loops dropped, distinct
    edges = (pairs.select(F.greatest(src, dst).alias("a"),
                          F.least(src, dst).alias("b"))
             .where(a.isNotNull() & b.isNotNull() & (a != b))
             .distinct())

    def _stats(e: DataFrame) -> tuple:
        row = e.agg(F.count(F.lit(1)).alias("n"),
                    F.expr("bit_xor(xxhash64(a, b))").alias("x")).first()
        return (row["n"], row["x"])

    edges = edges.localCheckpoint(eager=True)
    # node set from the CHECKPOINTED edges, not raw `pairs`: the (possibly
    # expensive) pair-generator plan is evaluated exactly once. Nodes whose
    # only edges were self-loops are excluded — they are singletons, which
    # assign_clusters restores via its left join.
    all_nodes = (edges.select(a.alias("node"))
                 .union(edges.select(b.alias("node"))).distinct())
    prev = _stats(edges)
    for _ in range(max_iters):
        # large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u})
        nbr = edges.union(edges.select(b.alias("a"), a.alias("b")))
        lmins = nbr.groupBy("a").agg(F.min("b").alias("mn"))
        large = (nbr.join(lmins, "a").where(b > a)
                 .select(b.alias("a"), F.least(F.col("mn"), a).alias("b"))
                 .distinct())
        # small-star on the (a > b) form: m = min neighbors-below ∪ self
        smins = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (smins.select("a", F.col("m").alias("b"))
                 .union(large.join(smins, "a")
                        .where(b != F.col("m"))
                        .select(b.alias("a"), F.col("m").alias("b")))
                 .distinct())
        edges = small.localCheckpoint(eager=True)
        cur = _stats(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds")
    # converged star graph: one (node → component-min) edge per non-root
    return (all_nodes.join(edges, all_nodes["node"] == edges["a"], "left")
            .select("node", F.coalesce("b", "node").alias("cluster_id")))


def assign_clusters(documents: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id", src: str = "doc_a",
                    dst: str = "doc_b") -> DataFrame:
    """Documents + (cluster_id, is_canonical): singletons form their own
    cluster; the minimum id in each component is the kept representative.
    `where(is_canonical)` IS fuzzy dedup."""
    labels = connected_components(pairs, src=src, dst=dst)
    d = documents.join(labels, documents[id_col] == labels["node"], "left")
    cid = F.coalesce(F.col("cluster_id"), documents[id_col])
    return (d.select(*documents.columns, cid.alias("cluster_id"))
            .withColumn("is_canonical",
                        (F.col(id_col) == F.col("cluster_id"))))


# -- text training-mix decontamination ---------------------------------------

def _window_fps(documents: DataFrame, w: int,
                text_col: str = "text") -> DataFrame:
    """(doc_id, pos, h1, h2): every w-token window of every document as a
    128-bit xxhash64 fingerprint — fixed 16-byte keys; the window text
    never leaves the map stage. Documents with < w tokens produce no
    rows."""
    from .multimodal import WS_PLUS

    toks = F.split(F.trim(F.lower(F.col(text_col))), WS_PLUS)
    staged = (documents.select("doc_id", toks.alias("_t"))
              .where(F.size(F.col("_t")) >= w))
    win = staged.select(
        "doc_id", "_t",
        F.explode(F.sequence(F.lit(1), F.size(F.col("_t")) - w + 1))
        .alias("pos"))
    key = F.array_join(F.slice(F.col("_t"), F.col("pos"), w), " ")
    return win.select(
        "doc_id", "pos",
        F.xxhash64(key).alias("h1"),
        F.xxhash64(F.lit(1), key).alias("h2"))


def decontaminate_flags(documents: DataFrame, eval_documents: DataFrame,
                        w: int = 8, text_col: str = "text") -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    verbatim w-token window with an evaluation/benchmark set (the
    GPT-3/PaLM-style n-gram overlap rule — an eval answer memorized from
    a contaminated train doc inflates benchmark scores).

    Returns one row PER CONTAMINATED document:
      (doc_id, n_hit_windows, n_windows, hit_fraction)
    n_hit_windows counts the document's window POSITIONS that match any
    eval window; hit_fraction = n_hit_windows / n_windows.

    Scale shape: the eval set is tiny next to a 100 TB corpus, so its
    distinct window fingerprints BROADCAST — flagging is a map-only
    broadcast semi-join over the corpus window stream (no corpus-keyed
    shuffle for the probe), then one doc-keyed aggregation; per-doc
    totals ride the same aggregate via a pre-join hit marker, so the
    corpus windows are scanned ONCE."""
    eval_fps = (_window_fps(eval_documents, w, text_col)
                .select("h1", "h2").distinct())
    corpus = _window_fps(documents, w, text_col)
    marked = (corpus.join(
        F.broadcast(eval_fps.withColumn("_hit", F.lit(1))),
        ["h1", "h2"], "left")
        .select("doc_id", F.coalesce("_hit", F.lit(0)).alias("_hit")))
    agg = (marked.groupBy("doc_id")
           .agg(F.count("*").alias("n_windows"),
                F.sum("_hit").alias("n_hit_windows")))
    return (agg.where(F.col("n_hit_windows") > 0)
            .select("doc_id", "n_hit_windows", "n_windows",
                    F.round(F.col("n_hit_windows") / F.col("n_windows"), 6)
                    .alias("hit_fraction")))


# -- content-defined chunking -----------------------------------------------

CDC_GEAR_MULT = 2654435761  # Knuth multiplicative constant
CDC_MASK32 = 0xFFFFFFFF


def cdc_boundaries(text: str, min_len: int = 8, max_len: int = 48,
                   mask: int = 0x1F) -> list:
    """Gear rolling-hash chunk boundaries (FastCDC shape, Xia et al.,
    USENIX ATC'16): cut after position i when the 32-bit gear hash
    masks to zero and the chunk has reached min_len, or unconditionally
    at max_len. Content-defined ⇒ an insertion early in a document only
    perturbs the one chunk it lands in, so shared tails still dedup —
    the property fixed-width shingles lack. Returns [(start, length)]."""
    out, start, h = [], 0, 0
    for i, ch in enumerate(text):
        h = ((h << 1) + ord(ch) * CDC_GEAR_MULT) & CDC_MASK32
        ln = i - start + 1
        if (ln >= min_len and (h & mask) == 0) or ln >= max_len:
            out.append((start, ln))
            start, h = i + 1, 0
    if start < len(text):
        out.append((start, len(text) - start))
    return out


