"""Image↔caption alignment over paired embeddings, outside the crawl.

`caption_alignment` pairs each image-tower vector with its caption-tower
vector and thresholds their cosine (the CLIP-score filter of LAION-style
curation); the dot products are JVM higher-order folds, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _unit(col) -> F.Column:
    norm = F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(col, lambda x: x / norm)


def _cos(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def caption_alignment(embeddings: DataFrame, threshold: float = 0.1,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      label_col: str = "label") -> DataFrame:
    """CLIP-score style image↔caption alignment filter over paired
    embeddings (even id = image tower, odd id = caption tower — the
    BASELINE image+caption input_hint's curation step, LAION-5B's
    primary filter, arXiv:2210.08402 §3). One hash aggregate: pairs are
    assembled by groupBy(id div 2) with min_by/max_by (no self-join, so
    the 100 TB table crosses the wire once), then the cosine is a
    codegen fold. Returns (pair_id, img_label, cap_label, cosine,
    aligned, label_match); `aligned` thresholds the 1e-6-rounded cosine
    so near-ties are engine-stable."""
    i, v = F.col(id_col), F.col(vec_col).cast("array<double>")
    pairs = (embeddings
             .select(i.alias("vid"), v.alias("emb"),
                     F.col(label_col).alias("lbl"))
             .groupBy(F.expr("vid div 2").alias("pair_id"))
             .agg(F.min_by("emb", "vid").alias("img"),
                  F.max_by("emb", "vid").alias("cap"),
                  F.min_by("lbl", "vid").alias("img_label"),
                  F.max_by("lbl", "vid").alias("cap_label"),
                  F.count(F.lit(1)).alias("n")))
    cos = F.round(_cos(_unit(F.col("img")), _unit(F.col("cap"))), 6)
    return (pairs.where(F.col("n") == 2)  # drop unpaired tail row
            .select("pair_id", "img_label", "cap_label",
                    cos.alias("cosine"))
            .withColumn("aligned", F.col("cosine") >= F.lit(threshold))
            .withColumn("label_match",
                        F.col("img_label") == F.col("cap_label")))


