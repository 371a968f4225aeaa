"""Result filters — the WHERE-clause family (SURVEY.md §2.6).

Spark recast of core/.../filter/annotations/* and the legacy
util/AnnotationFilter.scala:47-87 chain, applied in the reference's
order: coref → confidence → support → types → uri-list → junk → sort.

All filters are plain column predicates except coreference resolution,
which is inherently sequential per document (backward scan,
AnnotationFilter.scala:89-123) and therefore runs as a grouped
applyInPandas over doc_id — one Arrow batch per document group.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_PARAMS, PipelineParams


def confidence_filter(
    scored: DataFrame,
    confidence: float,
    sim_thresholds: list[float] | None = None,
) -> DataFrame:
    """ConfidenceFilter.scala:47-52 + PercentageOfSecondFilter.scala:26-32.

    With no trained threshold list the similarity threshold IS the
    confidence value (ConfidenceFilter.scala:49's length==0 branch).
    """
    if sim_thresholds:
        idx = max(round((len(sim_thresholds) - 1) * confidence), 0)
        sim_threshold = sim_thresholds[idx]
    else:
        sim_threshold = confidence
    return scored.filter(
        (F.col("final_score") >= sim_threshold)
        & (F.col("pct_second_rank") <= (1.0 - confidence * confidence))
    )


def support_filter(scored: DataFrame, support: int) -> DataFrame:
    """SupportFilter.scala:26 — resource.support >= target."""
    return scored.filter(F.col("support") >= support)


def type_filter(
    scored: DataFrame,
    whitelist: tuple[str, ...] = (),
    blacklist: tuple[str, ...] = (),
    keep_untyped: bool = True,
) -> DataFrame:
    """TypeFilter.scala:25 — type-set intersection, UNKNOWN policy."""
    out = scored
    if whitelist:
        cond = F.arrays_overlap(
            F.col("types"), F.array(*[F.lit(t) for t in whitelist])
        )
        if keep_untyped:
            cond = cond | (F.size("types") == 0)
        out = out.filter(cond)
    if blacklist:
        out = out.filter(
            ~F.arrays_overlap(
                F.col("types"), F.array(*[F.lit(t) for t in blacklist])
            )
        )
    return out


def uri_whitelist_filter(scored: DataFrame, uris: tuple[str, ...]) -> DataFrame:
    """SparqlFilter.scala:30 stand-in: the query result is taken as a URI
    list parameter -> broadcast semi-join / isin."""
    if not uris:
        return scored
    return scored.filter(F.col("uri").isin(*uris))


def junk_filter(scored: DataFrame) -> DataFrame:
    """AnnotationFilter.scala:140-143 — drop List_of_ pages."""
    return scored.filter(~F.col("uri").startswith("List_of_"))


_COREF_SCHEMA = (
    "mention_key string, doc_id string, begin int, sf string, uri string,"
    " final_score double, pct_second_rank double"
)


def _is_coreferent(prev_sf: str, later_sf: str) -> bool:
    """AnnotationFilter.isCoreferent (:89-99): later is a single word;
    every word of the earlier sf is capitalized; the earlier sf contains
    the later word."""
    prev_words = prev_sf.split(" ")
    later_words = later_sf.split(" ")
    return (
        len(later_words) == 1
        and all(w[:1] == w[:1].upper() for w in prev_words)
        and later_words[0] in prev_words
    )


def coreference_resolution(resolved: DataFrame) -> DataFrame:
    """Later single-word mentions inherit the resource (and scores) of the
    first earlier mention whose capitalized sf word-contains them
    (AnnotationFilter.buildCoreferents :101-123). Per-doc sequential →
    grouped applyInPandas."""

    def fix(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("begin").reset_index(drop=True)
        for i in range(len(pdf)):
            later_sf = pdf.at[i, "sf"]
            for j in range(i):
                if _is_coreferent(pdf.at[j, "sf"], later_sf):
                    pdf.at[i, "uri"] = pdf.at[j, "uri"]
                    pdf.at[i, "final_score"] = pdf.at[j, "final_score"]
                    pdf.at[i, "pct_second_rank"] = pdf.at[j, "pct_second_rank"]
                    break
        return pdf

    cols = [c.split(" ")[0] for c in _COREF_SCHEMA.split(", ")]
    return (
        resolved.select(*cols)
        .groupBy("doc_id")
        .applyInPandas(lambda _key, pdf: fix(pdf), schema=_COREF_SCHEMA)
    )


def apply_result_filters(
    scored: DataFrame, params: PipelineParams = DEFAULT_PARAMS
) -> DataFrame:
    """The full chain in reference order (AnnotationFilter.scala:47-87),
    coref excluded (it operates on resolved mentions, see pipeline)."""
    out = scored
    if params.confidence > 0:
        out = confidence_filter(out, params.confidence)
    if params.support > 0:
        out = support_filter(out, params.support)
    if params.type_whitelist or params.type_blacklist:
        out = type_filter(out, params.type_whitelist, params.type_blacklist)
    if params.uri_whitelist:
        out = uri_whitelist_filter(out, params.uri_whitelist)
    if params.drop_list_of_pages:
        out = junk_filter(out)
    # the reference's final offset sort (AnnotationFilter.scala:85) is
    # per-document; a global orderBy would be a full shuffle sort at
    # corpus scale for no consumer — per-doc ordering is applied where a
    # doc-level view is built (corpora.to_annotated_output's sort_array)
    return out
