"""End-to-end pipeline orchestration.

One lazily-composed DataFrame DAG (SURVEY.md §3.1 recast):

    documents --(AC pandas UDF)--> mentions
              --(dim joins)------> mention_candidates
              --(token joins+agg)-> ctx_scores
              --(window)---------> linked mentions
              --(blocking+pairs+CC)--> clusters

Each named stage can checkpoint through sources/checkpoint.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_PARAMS, PipelineParams
from ..operators import disambiguate as D
from ..operators.candidates import generate_candidates, with_mention_key
from ..operators.scoring import context_scores
from ..operators.ahocorasick import AhoCorasick
from ..operators.spotting import (
    broadcast_automaton,
    build_automaton,
    spot_documents,
)
from .model_build import ModelTables


@dataclass
class AnnotateResult:
    mentions: DataFrame
    candidates: DataFrame
    scored: DataFrame
    resolved: DataFrame   # every mention, NULL uri = NIL


def annotate(
    documents: DataFrame,
    model: ModelTables,
    stopwords: list[str],
    params: PipelineParams = DEFAULT_PARAMS,
    automaton_bc=None,
) -> AnnotateResult:
    spark = documents.sparkSession
    if params.spotter == "fsa":
        from ..operators.fsa_spotting import (
            FSADictionary,
            broadcast_fsa_dictionary,
            build_fsa_dictionary,
            spot_documents_fsa,
        )

        if automaton_bc is not None and not isinstance(
            automaton_bc.value, FSADictionary
        ):
            raise TypeError(
                "automaton_bc holds "
                f"{type(automaton_bc.value).__name__} but params.spotter="
                "'fsa' needs an FSADictionary (build it with "
                "build_fsa_dictionary, or set spotter='ac')"
            )
        if automaton_bc is None:
            # on_boundary="ac": real models contain boundary-edged surface
            # forms ('Yahoo!', 'U.S.') that cannot be token-aligned — they
            # route to an embedded AC residue automaton instead of raising.
            automaton_bc = broadcast_fsa_dictionary(
                spark,
                build_fsa_dictionary(
                    model.surface_form_stats,
                    case_sensitive=params.case_sensitive,
                    on_boundary="ac",
                ),
            )
        spot = lambda docs: spot_documents_fsa(docs, automaton_bc, params)
    else:
        if automaton_bc is not None and not isinstance(
            automaton_bc.value, AhoCorasick
        ):
            raise TypeError(
                "automaton_bc holds "
                f"{type(automaton_bc.value).__name__} but params.spotter="
                f"{params.spotter!r} needs an AhoCorasick (build it with "
                "build_automaton, or set spotter='fsa')"
            )
        if automaton_bc is None:
            automaton_bc = broadcast_automaton(
                spark,
                build_automaton(
                    model.surface_form_stats,
                    case_sensitive=params.case_sensitive,
                ),
            )
        spot = lambda docs: spot_documents(docs, automaton_bc, params)

    from ..operators.windows import window_token_arrays

    win_tokens, span_map = window_token_arrays(
        documents, stopwords, params.max_context, stemmer=params.stemmer
    )
    # win_tokens feeds BOTH the candidate context scores and the NIL
    # scores — cached, or the tokenize+window subtree (which re-reads the
    # input) expands once per reference (measured ~20% of annotate)
    win_tokens = win_tokens.cache()
    # mentions (a pandas-UDF scan) and span_map (an applyInPandas for long
    # docs) are each referenced by several downstream joins — cache them
    # or Catalyst re-runs the Python stages per reference
    mentions = with_mention_key(
        spot(documents)
    ).join(span_map.cache(), ["doc_id", "span_idx"], "left").fillna(
        {"window_id": 0}
    ).cache()
    cands = generate_candidates(mentions, model, params)
    ctx, nil = context_scores(
        cands, win_tokens, model, params, keys=("doc_id", "window_id")
    )
    scored = D.disambiguate(cands, ctx, nil, model, params)
    resolved = D.resolve_all_mentions(mentions, scored)
    return AnnotateResult(
        mentions=mentions, candidates=cands, scored=scored, resolved=resolved
    )


@dataclass
class ResolveResult:
    resolved: DataFrame
    clusters: DataFrame
    counters: dict


def resolve(
    documents: DataFrame,
    model: ModelTables,
    stopwords: list[str],
    params: PipelineParams = DEFAULT_PARAMS,
    store=None,
) -> ResolveResult:
    """Full record-linkage run: annotate → filters → blocking counters →
    edges → connected components → clusters.

    Every stage checkpoints through `store` (sources/checkpoint.py) when
    given; a killed run re-invoked with the same store resumes from the
    last completed stage (tests/test_resume.py).
    """
    from ..operators.blocking import salted_blocks
    from ..operators.cc import cluster_assignments
    from ..operators.filters import apply_result_filters, coreference_resolution
    from ..operators.pairs import edges_from_resolution

    counters: dict = {}

    def ck(stage, compute, **kw):
        if store is None:
            return compute()
        return store.get_or_compute(stage, compute, **kw)

    ann_holder = {}

    def _annotate():
        if "res" not in ann_holder:
            ann_holder["res"] = annotate(documents, model, stopwords, params)
        return ann_holder["res"]

    mentions = ck("mentions", lambda: _annotate().mentions)
    scored = ck(
        "scored", lambda: _annotate().scored, lineage=["mentions"]
    )
    filtered = apply_result_filters(scored, params)

    def _resolved():
        from ..operators.disambiguate import resolve_all_mentions

        res = resolve_all_mentions(mentions, filtered)
        if params.coreference_resolution:
            res = coreference_resolution(res)
        return res

    resolved = ck("resolved", _resolved, lineage=["mentions", "scored"])
    if store is None:
        # blocking counters, edges, and every CC superstep re-derive
        # `resolved` — without a checkpoint store, cache it or the whole
        # annotate+coref chain re-runs once per downstream action
        resolved = resolved.cache()

    # blocking counters (skew accounting for the manifest; the
    # reference-faithful edge set itself is linear in mentions)
    bc = salted_blocks(
        mentions.join(
            resolved.select("mention_key", "uri"), "mention_key", "left"
        ),
        params,
    )
    counters["blocking"] = {
        "n_blocks": bc.n_blocks,
        "n_blocks_split": bc.n_blocks_split,
        "max_block_size": bc.max_block_size,
        "n_salt_tasks": bc.n_salt_tasks,
    }

    edges = ck(
        "edges",
        lambda: edges_from_resolution(resolved),
        counters=counters["blocking"],
        lineage=["resolved"],
    )
    clusters = cluster_assignments(
        resolved, edges, store=store, stage_prefix="cc"
    )
    if store is not None:
        clusters = store.get_or_compute(
            "clusters", lambda: clusters, lineage=["edges"]
        )
    return ResolveResult(resolved=resolved, clusters=clusters,
                         counters=counters)


def clusters_by_uri(resolved: DataFrame) -> DataFrame:
    """Trivial clustering: cluster id = resolved URI; NIL mentions are
    singletons (cluster id = their own mention key). The reference
    equivalence: clusters ≡ groups of mentions linked to one DBpedia URI."""
    return resolved.select(
        "mention_key",
        "doc_id",
        "begin",
        "sf",
        "uri",
        F.when(
            F.col("uri").isNotNull(), F.concat(F.lit("uri:"), F.col("uri"))
        )
        .otherwise(F.concat(F.lit("nil:"), F.col("mention_key")))
        .alias("cluster_id"),
    )
