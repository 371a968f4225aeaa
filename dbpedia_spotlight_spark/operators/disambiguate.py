"""Mixture scoring, NIL gate, ranking, softmax normalization.

Spark recast of db/DBTwoStepDisambiguator.scala:132-204 with
UnweightedMixture(P(e), P(c|e), P(s|e))
(disambiguate/mixtures/UnweightedMixture.scala:12-17, wired at
db/SpotlightModel.scala:120-128):

    score(m, e)  = ln P(s|e) + P(c|e) + ln P(e)
                 = ln(cand_prior) + ctx_score + ln(res_prior)   (:170-174)
    nil(m)       = nil_ctx + ln(1 / totalAnnotatedCount)        (:135-151)
    keep         : score > nil, score not NaN                   (:183)
    rank         : desc score; ties (uri, cand_sf) asc — the reference's
                   Set order is unspecified, this makes it deterministic
    pctSecond    : exp(score_{i+1} − score_i) via lead()        (:188-192)
    softmax      : exp(score − logsumexp(scores ∪ {nil}))       (:194-201)

All window functions partition by mention_key — no global sort.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_PARAMS, PipelineParams
from ..plans.model_build import ModelTables


def disambiguate(
    mention_candidates: DataFrame,
    ctx_scores: DataFrame,
    nil_scores: DataFrame,
    model: ModelTables,
    params: PipelineParams = DEFAULT_PARAMS,
) -> DataFrame:
    """-> scored candidate rows with rank; rank 1 is the resolved link.

    Output columns: mention_key, doc_id, begin, end, sf, uri, res_id,
    support, types?, score (softmax-normalized), ctx_score (normalized),
    pct_second_rank, rank.
    """
    ln_nil_pe = math.log(1.0 / model.total_annotated_count)

    keys = (
        ["doc_id", "window_id"]
        if "window_id" in mention_candidates.columns
        else ["doc_id"]
    )
    joined = mention_candidates.join(
        ctx_scores, keys + ["res_id"], "left"
    ).join(nil_scores, keys, "left")

    mixture = getattr(params, "mixture", "unweighted")
    if mixture == "unweighted":
        # UnweightedMixture.scala:12-17 — ln P(s|e) + ln P(c|e) + ln P(e)
        scored = joined.withColumn(
            "raw_score",
            F.log("cand_prior") + F.col("ctx_score") + F.log("res_prior"),
        ).withColumn(
            "nil_score", F.col("nil_ctx_score") + F.lit(ln_nil_pe)
        )
    elif mixture == "onlysim":
        # OnlySimScoreMixture — context channel alone; the NIL pseudo-
        # candidate competes on its context share only
        scored = joined.withColumn(
            "raw_score", F.col("ctx_score")
        ).withColumn("nil_score", F.col("nil_ctx_score"))
    elif mixture == "linreg":
        # LinearRegressionMixture.scala:49-53 ACTIVE getScore body:
        #   1234.3989·resource.prior + 0.9968·contextualScore − 0.0275
        # contextualScore here is the RAW ln context score (normalization
        # happens only afterwards, DBTwoStepDisambiguator.scala:195-200)
        # and prior is P(e). The NIL pseudo-candidate reaches getScore with
        # the constructor defaults (prior 0.0, contextualScore −1), so its
        # mixture score is the constant LINREG_NIL_SCORE.
        from .mixtures import LINREG_NIL_SCORE, linear_regression_mixture

        scored = joined.withColumn(
            "raw_score",
            linear_regression_mixture(
                F.col("res_prior"), F.col("ctx_score")
            ),
        ).withColumn("nil_score", F.lit(LINREG_NIL_SCORE))
    elif mixture in ("fader", "fader2"):
        # Fader(2)Mixture.scala — raw ln context × / + prior prominence.
        # The NIL pseudo-candidate reaches getScore with the constructor
        # defaults (prior 0.0, contextualScore −1), same as linreg, so its
        # score is a params-dependent constant.
        from .mixtures import fader2_mixture, fader_mixture

        cw = params.mixture_context_weight
        al = params.mixture_alpha
        if mixture == "fader":
            sc = params.mixture_surrogates_count
            raw = fader_mixture(
                F.col("ctx_score"), F.col("res_prior"), cw, al, sc
            )
            nil_const = -1.0 * (cw / sc + (1.0 - cw))  # prominence(0)=1
        else:
            raw = fader2_mixture(
                F.col("ctx_score"), F.col("res_prior"), cw, al
            )
            nil_const = cw * -1.0 + (1.0 - cw) * 1.0
        scored = joined.withColumn("raw_score", raw).withColumn(
            "nil_score", F.lit(nil_const)
        )
    elif mixture == "linregf":
        # LinearRegressionFeatureMixture.scala over the named Score
        # features of DBTwoStepDisambiguator.scala:168-173. NIL features
        # (:141-150): P(c|e) = window nil score, P(e) = ln(1/total);
        # the reference's P(s|e) on eNIL is nilScore(mention token
        # types) WHEN token_types is present (it throws otherwise) —
        # this engine substitutes the window nil score there, a
        # documented approximation.
        from .mixtures import linear_regression_feature_mixture

        weights = params.mixture_feature_weights
        offset = params.mixture_feature_offset
        cand_feats = {
            "P(s|e)": F.log("cand_prior"),
            "P(c|e)": F.col("ctx_score"),
            "P(e)": F.log("res_prior"),
        }
        nil_feats = {
            "P(s|e)": F.col("nil_ctx_score"),
            "P(c|e)": F.col("nil_ctx_score"),
            "P(e)": F.lit(ln_nil_pe),
        }
        scored = joined.withColumn(
            "raw_score",
            linear_regression_feature_mixture(cand_feats, weights, offset),
        ).withColumn(
            "nil_score",
            linear_regression_feature_mixture(nil_feats, weights, offset),
        )
    else:
        raise ValueError(f"unknown mixture: {mixture!r}")

    # NIL gate (DBTwoStepDisambiguator.scala:183)
    kept = scored.filter(
        F.col("raw_score").isNotNull()
        & ~F.isnan("raw_score")
        & (F.col("raw_score") > F.col("nil_score"))
    )

    w = Window.partitionBy("mention_key").orderBy(
        F.desc("raw_score"), F.asc("uri"), F.asc("cand_sf")
    )
    ranked = kept.withColumn("rank", F.row_number().over(w)).withColumn(
        "pct_second_rank",
        F.coalesce(
            F.exp(F.lead("raw_score").over(w) - F.col("raw_score")),
            F.lit(-1.0),
        ),
    )

    # softmax over kept candidates ∪ {nil}, numerically stable per mention
    wm = Window.partitionBy("mention_key")
    max_sim = F.max("raw_score").over(wm)
    max_ctx = F.max("ctx_score").over(wm)
    lse_sim = max_sim + F.log(
        F.sum(F.exp(F.col("raw_score") - max_sim)).over(wm)
        + F.exp(F.col("nil_score") - max_sim)
    )
    lse_ctx = max_ctx + F.log(
        F.sum(F.exp(F.col("ctx_score") - max_ctx)).over(wm)
        + F.exp(F.col("nil_ctx_score") - max_ctx)
    )
    out = ranked.withColumn(
        "final_score", F.exp(F.col("raw_score") - lse_sim)
    ).withColumn("ctx_score_norm", F.exp(F.col("ctx_score") - lse_ctx))

    return out.select(
        "mention_key", "doc_id", "begin", "end", "sf", "uri", "res_id",
        "support", "types", "cand_sf",
        F.col("final_score"),
        F.col("ctx_score_norm").alias("ctx_score"),
        "pct_second_rank", "rank", "raw_score", "nil_score",
    )


def resolve_all_mentions(
    mentions_with_key: DataFrame, winners: DataFrame
) -> DataFrame:
    """Left-join back to mentions: unlinked mentions get NULL uri (NIL)."""
    return mentions_with_key.join(
        winners.filter(F.col("rank") == 1).select(
            "mention_key", "uri", "final_score", "ctx_score",
            "pct_second_rank",
        ),
        "mention_key",
        "left",
    )
