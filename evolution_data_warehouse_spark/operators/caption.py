"""Image-text (caption) alignment — the CLIP-score gate of LAION-style
image-corpus curation, shared by mm_caption_alignment and
mm_image_curation (queries/multimodal.py).

One source of truth for the constants, the Spark expression builder,
and the DuckDB CTE chain: a change to any threshold or to the
misaligned schedule reaches both the standalone gate and the composed
funnel (and their oracles) atomically — the _bm25_scored_cte
discipline applied to the alignment math (review finding).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Fixed-point scale for the quantized embedding components. The
# embeddings fixture is unit-normalized (components in [-1, 1]), so
# quantized components are <= 1000 in magnitude, squared norms <=
# 64e6, dot products <= 64e6 by Cauchy–Schwarz, and the
# cross-multiplied threshold terms (25·dot², 16·|i|²·|c|²) stay under
# ~1e17 — inside int64 on both engines at ANY corpus size (the bound
# is per-vector, not per-corpus).
CAP_SCALE = 1000
# cos >= 0.8 as integers: dot > 0 AND 25·dot² >= 16·|i|²·|c|²
# (0.8² = 16/25 — no float ever decides).
CAP_COS_NUM, CAP_COS_DEN = 16, 25
# Misaligned-caption schedule: vec_id % 10 == 7 — deliberately the
# same residue as an always-quality-passing, never-family-minimum
# image leg in mm_image_curation's fixture, so the composed funnel's
# near-dup survivor set stays closed-form (leg 0 is the family
# minimum there and legs 8/9 already fail the quality gate).
CAP_MISALIGNED_MOD, CAP_MISALIGNED_RESIDUE = 10, 7


def caption_pair_stats(emb: DataFrame) -> DataFrame:
    """Per-vector paired image/caption alignment stats, all-integer.

    The image embedding is the fixture vector quantized to
    floor(x·1000); the caption embedding derives from it in the SAME
    row (pair co-located by id — zero shuffle): aligned docs get a
    tiny deterministic per-component jitter ((i + vec_id) % 5 - 2, a
    paraphrase-noise stand-in, cosine ~0.99998), docs on the
    misaligned schedule get the image vector rotated by 32 positions
    (an unrelated caption: expected cosine ~0 for unit gaussians).
    Every derived component is an integer, so both engines compute
    bit-identical dots/norms and the cross-multiplied cosine test
    never touches a float.

    Returns (vec_id, dot_q, norm_img_q, norm_cap_q, caption_rotated,
    aligned).
    """
    vid = F.col("vec_id")
    iq = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * CAP_SCALE).cast("long"),
    )
    base = emb.select(vid.alias("vec_id"), iq.alias("iq"))
    sz = F.size("iq")
    rotated = F.transform(
        F.sequence(F.lit(0), sz - 1),
        lambda i: F.element_at(
            F.col("iq"), ((i + 32) % sz + 1).cast("int")
        ),
    )
    # Binary lambda ON PURPOSE: F.transform passes (element, index) —
    # the jitter needs the component index. (The r10 trap was a
    # default-arg lambda accidentally becoming binary; this one is
    # deliberate.)
    jittered = F.transform(
        F.col("iq"),
        lambda x, i: x + ((i.cast("long") + F.col("vec_id")) % 5 - 2),
    )
    misaligned = (
        F.col("vec_id") % CAP_MISALIGNED_MOD == CAP_MISALIGNED_RESIDUE
    )
    paired = base.select(
        "vec_id",
        "iq",
        F.when(misaligned, rotated).otherwise(jittered).alias("cq"),
        misaligned.alias("caption_rotated"),
    )

    def dot64(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    stats = paired.select(
        "vec_id",
        "caption_rotated",
        dot64(F.col("iq"), F.col("cq")).alias("dot_q"),
        dot64(F.col("iq"), F.col("iq")).alias("norm_img_q"),
        dot64(F.col("cq"), F.col("cq")).alias("norm_cap_q"),
    )
    aligned = (F.col("dot_q") > 0) & (
        CAP_COS_DEN * F.col("dot_q") * F.col("dot_q")
        >= CAP_COS_NUM * F.col("norm_img_q") * F.col("norm_cap_q")
    )
    return stats.select(
        "vec_id",
        "dot_q",
        "norm_img_q",
        "norm_cap_q",
        "caption_rotated",
        aligned.alias("aligned"),
    )


def caption_cte_chain() -> str:
    """The DuckDB CTE chain ending in cap_al(vec_id, dot_q,
    norm_img_q, norm_cap_q, caption_rotated, aligned) — the SQL mirror
    of caption_pair_stats, shared by the mm_caption_alignment oracle
    (which selects the stats) and the mm_image_curation oracle (which
    LEFT JOINs the aligned flag into its funnel)."""
    return f"""cap_q AS (
    SELECT vec_id,
           list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * {CAP_SCALE}) AS BIGINT))
               AS iq
    FROM embeddings
),
cap_c AS (
    SELECT vec_id, iq,
           CASE WHEN vec_id % {CAP_MISALIGNED_MOD}
                     = {CAP_MISALIGNED_RESIDUE}
                THEN list_transform(range(0, len(iq)),
                     i -> iq[((i + 32) % len(iq)) + 1])
                ELSE list_transform(range(0, len(iq)),
                     i -> iq[i + 1] + ((i + vec_id) % 5 - 2))
           END AS cq,
           vec_id % {CAP_MISALIGNED_MOD} = {CAP_MISALIGNED_RESIDUE}
               AS caption_rotated
    FROM cap_q
),
cap_m AS (
    SELECT vec_id, caption_rotated,
           CAST(list_sum(list_transform(range(1, len(iq) + 1),
               i -> iq[i] * cq[i])) AS BIGINT) AS dot_q,
           CAST(list_sum(list_transform(iq, x -> x * x)) AS BIGINT)
               AS norm_img_q,
           CAST(list_sum(list_transform(cq, x -> x * x)) AS BIGINT)
               AS norm_cap_q
    FROM cap_c
),
cap_al AS (
    SELECT vec_id, dot_q, norm_img_q, norm_cap_q, caption_rotated,
           (dot_q > 0 AND {CAP_COS_DEN} * dot_q * dot_q
                >= {CAP_COS_NUM} * norm_img_q * norm_cap_q) AS aligned
    FROM cap_m
)"""
