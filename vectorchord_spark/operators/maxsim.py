"""Index-backed multi-vector MaxSim retrieval (Q10).

Re-expresses the reference's maxsim scan
(/root/reference/crates/vchordrq/src/search.rs:199-380 and the groupBy-min-
sum aggregation in src/index/vchordrq/scanners/maxsim.rs:695-742) as a pure
DataFrame pipeline:

  explode query tokens → per-token ANN candidates (IVF search) →
  union → groupBy(doc) with per-token min distance, missing tokens imputed
  by the token's estimation floor → sum across tokens → ORDER BY LIMIT k.

The per-token "estimation" mirrors ``estimation_by_threshold``: once a token
has consumed its candidate budget, unseen documents are scored with the
token's observed distance frontier (the max candidate distance), a lower
bound on what an unvisited document could contribute.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorchord_spark.operators.ivf import IvfIndex


def _persist_bounded(index: IvfIndex, df: DataFrame) -> DataFrame:
    """At most one outstanding persisted candidate frame per index (a
    serving process must not accumulate one cached RDD per query)."""
    prev = getattr(index, "_last_maxsim_un", None)
    if prev is not None:
        prev.unpersist()
    index._last_maxsim_un = df.persist()
    return index._last_maxsim_un


def maxsim_search(
    index: IvfIndex,
    doc_of_id=None,
    query_tokens: "list[list[float]] | np.ndarray" = None,
    k: int = 10,
    per_token_candidates: int = 100,
    probes: list[int] | int | None = None,
    epsilon: float = 1.9,
    maxsim_threshold: int = 0,
    maxsim_refine: int = 0,
    base_df: DataFrame = None,
) -> DataFrame:
    """Top-k documents by MaxSim score against ``query_tokens``.

    ``doc_of_id``: a pyspark Column expression mapping the indexed row ``id``
    to its document id. ``None`` (the default) requires an index built with
    :meth:`IvfIndex.build_multivector`, whose ids pack a u16 token sub-index
    (``doc_id·2^16 + token_id``, reference opclass.rs:70-141) — the document
    id is then recovered with a right shift, no caller-supplied mapping.

    ``maxsim_threshold`` > 0 enables the reference's threshold estimation:
    each token's imputation floor becomes
    ``max(max observed distance, estimation_by_threshold)`` — the distance
    frontier after covering ``threshold`` tuples of probed-plus-nearest
    cells (gucs.rs:440-473; default 0 = scope-only, matching the
    reference's default configuration).

    ``maxsim_refine`` > 0 enables the reference's refine stage
    (src/index/vchordrq/scanners/maxsim.rs:601-692): the candidate pool
    keeps ROUGH (RaBitQ-estimated) distances and only the best
    ``maxsim_refine`` candidates per token are exact-reranked — the
    quality/IO knob for wide candidate pools. The head is reranked inside
    the one codes scan that builds the pool (``IvfIndex._rough_pool``), so
    refine adds no second scan, whether the payload is in the index or in
    ``base_df``. The
    default 0 exact-reranks every candidate (a strict quality superset of
    the reference's default refine=0, which keeps all-rough).

    ``base_df``: rerank against this (id, vec) table instead of the
    index-stored payload (rerank-in-table, Q5; its vectors join the one
    codes scan, as in ``IvfIndex.search``) — required for refine on
    f32/f16 indexes built with ``rerank_in_index=False``, matching
    single-query and batch KNN (the reference's rerank heap fetches from
    the heap for every storage, crates/vchordrq/src/rerank.rs:113-137).
    For a ``build_multivector`` index the ids are packed
    ``doc_id·2^16 + token_id``."""
    spark = index.spark
    if doc_of_id is None:
        if not index.meta.get("multivector"):
            raise ValueError(
                "doc_of_id=None requires an index built with build_multivector"
            )
        shift = IvfIndex.TOKEN_BITS
        doc_of_id = lambda c: F.shiftright(c, shift)  # noqa: E731
    # ONE pass over the codes table for ALL tokens (the index's scan kernel
    # computes every token's rough estimates from a single bits @ QQᵀ
    # matmul and reranks inside the same scan) — the reference issues one
    # maxsim_search per token, but they share the same index pages; the
    # Spark-native equivalent of that sharing is a batched scan, not
    # n_tokens sequential descend+scan DAGs
    tokens_f = [list(map(float, t)) for t in query_tokens]
    if maxsim_refine > 0:
        # the refine rerank needs a vector source: f32/f16 storage keeps
        # rerank payloads in-index OR the caller supplies a base table
        # (rerank-in-table); quantized storage reranks on its own codes
        # (the reference's rerank heap works for every storage,
        # crates/vchordrq/src/rerank.rs:113-137)
        if (
            index.meta["storage"] in ("f32", "f16")
            and not index.meta["rerank_in_index"]
            and base_df is None
        ):
            raise NotImplementedError(
                "maxsim_refine on a rerank_in_index=False f32/f16 index "
                "needs base_df (rerank-in-table); quantized storage "
                "reranks on its own codes"
            )
        # reference refine semantics: a rough-scored candidate pool whose
        # best `maxsim_refine` rows per token carry exact distances — the
        # scan kernel reranks them on the index's payload (every storage
        # the single-query path reranks) or on base_df's vectors, joined
        # into the same scan
        pool = index._rough_pool(
            tokens_f, per_token_candidates, probes, epsilon, maxsim_refine, base_df
        )
        metric = index.meta["metric"]
        # rough is in internal space (squared-l2 / negated-dot); map to the
        # output space so refined exact distances compose with it
        if metric == "l2":
            rough_out = F.sqrt(F.greatest(F.col("rough"), F.lit(0.0)))
        elif metric == "cos":
            rough_out = F.col("rough") + F.lit(1.0)
        else:
            rough_out = F.col("rough")
        batch = pool.select(
            "qid",
            "id",
            F.when(F.col("rank") <= int(maxsim_refine), F.col("dist"))
            .otherwise(rough_out)
            .alias("dist"),
        )
    else:
        batch = index.search_batch(
            tokens_f,
            k=per_token_candidates,
            probes=probes,
            epsilon=epsilon,
            rerank_factor=None,
            base_df=base_df,
        )
    un = batch.select(
        F.col("qid").cast("int").alias("tok"),
        doc_of_id(F.col("id")).cast("long").alias("doc_id"),
        F.col("dist"),
    )
    un = _persist_bounded(index, un)

    # per-token imputation floor for unseen (doc, token) pairs:
    # max(estimation_by_scope, estimation_by_threshold); empty token → 0
    # (/root/reference/src/index/vchordrq/scanners/maxsim.rs:699-716)
    est_rows = (
        un.groupBy("tok").agg(F.max("dist").alias("est")).collect()
    )
    scope = {r.tok: r.est for r in est_rows}
    n_tokens = len(query_tokens)
    estimations = []
    for ti in range(n_tokens):
        if ti not in scope:
            estimations.append(0.0)
            continue
        e = float(scope[ti])
        if maxsim_threshold > 0:
            e = max(
                e,
                index.estimation_by_threshold(
                    list(map(float, query_tokens[ti])), probes, maxsim_threshold
                ),
            )
        estimations.append(e)

    per_doc_tok = un.groupBy("doc_id", "tok").agg(F.min("dist").alias("mind"))
    # score = Σ present mind + Σ est over *missing* tokens, computed as
    # sum(mind) + (Σ_all est − Σ_present est) so that a document seen by
    # every token scores exactly sum(mind) (the missing-token adjustment
    # cancels to +0.0)
    base = float(np.sum(np.float64(estimations)))
    est_arr = F.array(*[F.lit(float(e)) for e in estimations])
    per_doc = per_doc_tok.groupBy("doc_id").agg(
        F.sum("mind").alias("s"),
        F.sum(F.element_at(est_arr, F.col("tok") + 1)).alias("se"),
    )
    return (
        per_doc.select(
            "doc_id", (F.col("s") + (F.lit(base) - F.col("se"))).alias("score")
        )
        .orderBy("score", "doc_id")
        .limit(int(k))
    )
