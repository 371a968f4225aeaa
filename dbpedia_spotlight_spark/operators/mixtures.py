"""Score mixtures (SURVEY.md §2.5 mixture row).

Column-expression builders replacing the reference's Mixture strategy
classes:
  * UnweightedMixture — sum of log features
    (disambiguate/mixtures/UnweightedMixture.scala:12-17); the default,
    inlined in operators/disambiguate.py
  * LinearRegressionMixture — the ACTIVE getScore body
    (disambiguate/mixtures/LinearRegressionMixture.scala:49-53:
     1234.3989·resource.prior + 0.9968·contextualScore − 0.0275, where
     contextualScore is the RAW ln context score — softmax normalization
     happens after getScore at DBTwoStepDisambiguator.scala:195-200 — and
     prior is P(e), the resource prior). The 6617.888/0.7886/0.2214
    fields earlier in that file are dead code never read by getScore.
  * OnlySimScoreMixture — context channel alone
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def unweighted_mixture(*log_features: Column) -> Column:
    """ln-product == sum of logs; -inf propagates (NIL gate relies on it)."""
    out = log_features[0]
    for fcol in log_features[1:]:
        out = out + fcol
    return out


def linear_regression_mixture(res_prior: Column, ctx_raw: Column) -> Column:
    """LinearRegressionMixture.scala:49-53 active getScore coefficients.

    ``res_prior`` is P(e) (resource prior, linear scale), ``ctx_raw`` is the
    raw ln context score.
    """
    return 1234.3989 * res_prior + 0.9968 * ctx_raw - 0.0275


# The reference's NIL pseudo-candidate reaches getScore with the model-class
# constructor defaults (DBpediaResource.scala:26 prior=0.0,
# DBpediaResourceOccurrence.scala:28 contextualScore=-1): the P(c|e)/P(e)
# Score FEATURES set on eNIL are not read by LinearRegressionMixture.
LINREG_NIL_SCORE = 1234.3989 * 0.0 + 0.9968 * (-1.0) - 0.0275


def fader_mixture(
    ctx_raw: Column,
    res_prior: Column,
    context_weight: float,
    alpha: float,
    surrogates_count: int,
) -> Column:
    """FaderMixture.scala:20-30 (Fader et al. 2009 adaptation):

        prominence = 1 + ln(1 + prior·alpha)
        lambda     = contextWeight/surrogatesCount
                     + (1 − contextWeight)·prominence
        score      = contextualScore · lambda

    with contextualScore the raw ln context score and prior = P(e)."""
    prominence = 1.0 + F.log(1.0 + res_prior * F.lit(alpha))
    lam = (
        F.lit(context_weight / surrogates_count)
        + F.lit(1.0 - context_weight) * prominence
    )
    return ctx_raw * lam


def fader2_mixture(
    ctx_raw: Column,
    res_prior: Column,
    context_weight: float,
    alpha: float,
) -> Column:
    """Fader2Mixture.scala:17-22:
    cw·contextualScore + (1 − cw)·(1 + ln(1 + prior·alpha))."""
    prominence = 1.0 + F.log(1.0 + res_prior * F.lit(alpha))
    return (
        F.lit(context_weight) * ctx_raw
        + F.lit(1.0 - context_weight) * prominence
    )


def linear_regression_feature_mixture(
    features: dict, weighted: tuple, offset: float
) -> Column:
    """LinearRegressionFeatureMixture.scala:16-23: Σ wᵢ·feature(nameᵢ)
    + offset over the named Score features the disambiguator sets
    (DBTwoStepDisambiguator.scala:168-173: "P(s|e)" = ln cand.prior,
    "P(c|e)" = raw ln context score, "P(e)" = ln resource.prior)."""
    out = F.lit(float(offset))
    for name, w in weighted:
        if name not in features:
            raise ValueError(f"unknown feature: {name!r}")
        out = out + F.lit(float(w)) * features[name]
    return out
