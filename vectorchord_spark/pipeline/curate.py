"""End-to-end corpus curation: the standard pre-training data pipeline
(CCNet / Gopher / RefinedWeb lineage) as one auditable composition.

Stage order (each published pipeline's own order, cheap-row-filters
first so the expensive dedup shuffles see the smallest corpus):

1. **length**      — word-count bounds (Gopher §A1.1)
2. **language**    — keep an allowed language set (existing ``lang``
                     column if present, else wordlist-profile langid)
3. **repetition**  — Gopher repeated-n-gram fractions
4. **quality**     — heuristic score bound, plus an optional learned
                     classifier (:mod:`quality_model`) logit bound
5. **exact_dup**   — one content-hash groupBy, keep min id
6. **near_dup**    — MinHash-LSH pairs → connected components → keep the
                     highest-quality doc per duplicate cluster
7. **contaminated**— n-gram-overlap decontamination vs a benchmark frame
8. **dsir** (optional, off by default) — DSIR importance selection
   (`pipeline/dsir.py`) keeping the n/frac most target-like survivors;
   last because selection applies to the CLEANED corpus (filter, then
   select — the paper's order), and off by default because it is a
   corpus-level selector, not a per-row quality judgment

Every dropped row lands in the **audit** frame as (id, stage, detail) —
the provenance real curation runs must keep (what was removed and why).
``kept ∪ audit`` partitions the input exactly; a test asserts it.

Scale shape: stages 1–4 are ONE JVM projection pass (no shuffle, no
Python); stage 5 is one hash groupBy; stage 6 is the banded-LSH path
(never all-pairs) plus the bounded-iteration component loop; stage 7 is
a broadcast inverted-index join. Survivors are persisted once before
the dedup stages so the shuffle stages don't recompute the row filters.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class CurateConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    # stage 1: length
    min_words: int = 10
    max_words: int = 1_000_000
    # stage 2: language — None disables; uses lang_col when the input has
    # it, else detect_language over lang_profiles
    langs: tuple[str, ...] | None = None
    lang_col: str = "lang"
    lang_profiles: dict = field(default_factory=dict)
    # stage 3: Gopher repetition bounds (None disables each)
    max_top_2gram_frac: float | None = 0.2
    max_dup_3gram_frac: float | None = 0.3
    # stage 4: quality
    min_quality: float | None = 0.3
    quality_model: dict | None = None
    min_logit: float = 0.0
    # stage 4b: CCNet perplexity filter — a trained pipeline.ngram_lm
    # NgramLM plus the bits-per-token ceiling (lower = closer to the
    # reference corpus; CCNet keeps head+middle of the distribution)
    ngram_lm: "object | None" = None
    max_bits_per_token: float = 20.0
    # stage 5/6: dedup
    exact_dedup: bool = True
    near_dedup: bool = True
    minhash_hashes: int = 8
    minhash_band_rows: int = 2
    # per-(band, key) bucket cap for the LSH candidate join (spanning-star
    # emission over the cap — dedup.capped_band_pairs); None = uncapped
    minhash_max_bucket: int | None = 64
    shingle_n: int = 3
    # stage 7: decontamination
    benchmark: DataFrame | None = None
    decontaminate_n: int = 3
    decontaminate_min_overlap: int = 1
    # stage 8 (optional, OFF by default): DSIR target-distribution
    # selection (pipeline/dsir.py) over the surviving corpus. Off by
    # default because selection is a corpus-level act (keep the n/frac
    # most target-like docs), not a per-row quality judgment like stages
    # 1-7 — enabling it changes the output size by fiat, not by content.
    # When on, it runs LAST so the importance weights are fit/applied on
    # the cleaned corpus (the paper's own order: filter, then select).
    dsir_model: dict | None = None
    dsir_n: int | None = None
    dsir_frac: float | None = None
    dsir_temperature: float = 1.0
    dsir_seed: int = 0


@dataclass
class CurateResult:
    kept: DataFrame       # surviving rows, original columns
    audit: DataFrame      # (id, stage, detail) for every dropped row
    _stats: "dict | None" = None

    @property
    def stats(self) -> dict:
        """stage -> rows dropped. LAZY (cached on first access): an eager
        collect here would run the whole pipeline at curate() call time
        and again when the caller materializes kept/audit — measured as
        a clean 2× on the sf0.1 bench entry."""
        if self._stats is None:
            self._stats = {
                r["stage"]: r["n"]
                for r in self.audit.groupBy("stage")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        return self._stats


#: bounded cache registry: only the latest curate() call keeps its
#: survivor frames persisted — a new call releases the previous call's
#: (its kept/audit frames stay correct, they just recompute if re-read),
#: so long-lived sessions don't accumulate cached partitions run over run.
#: The lock guards the list mutation only: two CONCURRENT curate() calls on
#: one driver still evict each other's pins mid-build (results stay
#: correct via recompute, caching degrades) — the registry assumes an
#: effectively single-threaded driver workflow.
_PERSISTED: "list[DataFrame]" = []
_REG_LOCK = __import__("threading").Lock()


def curate(docs: DataFrame, config: CurateConfig | None = None) -> CurateResult:
    cfg = config or CurateConfig()
    idc, txt = cfg.id_col, cfg.text_col
    with _REG_LOCK:
        while _PERSISTED:
            _PERSISTED.pop().unpersist()

    from vectorchord_spark.pipeline.text import quality_score, row_filter_stats

    # ---- stages 1-4: one vectorized stats pass, first failing stage wins
    #
    # EVERY per-row statistic (word count, language id when detected,
    # heuristic quality, the Gopher repetition fracs) comes out of ONE
    # mapInArrow node over the input rows (text.row_filter_stats); the
    # failure-CASE chain references only the node's output columns.
    # History of this shape: r12 found that inlining the expressions
    # regressed (predicate pushdown alias-substitutes them into every
    # downstream filter — plan audit: size(split(text)) x11), and fixed
    # it with a narrow stats frame JOINED back by id (the join as a
    # pushdown barrier). r13 session 9 removes the join too: an opaque
    # Arrow node's outputs cannot be substituted (same barrier property),
    # the statistics are computed where the text already is (guide §8 —
    # at scale the id-join back to the corpus would shuffle the document
    # payload just to attach stats computed FROM it), and the gram
    # counting itself runs vectorized native per batch instead of
    # interpreted JVM HOFs (measured 3.6-10.5x; OPTIMIZATION_r13.md
    # items 9/10).
    rep_on = (
        cfg.max_top_2gram_frac is not None or cfg.max_dup_3gram_frac is not None
    )
    lang_detected = cfg.langs is not None and cfg.lang_col not in docs.columns
    aux_names: list[str] = ["_cr_nw"]
    if lang_detected:
        aux_names.append("_cr_lang")
    if cfg.min_quality is not None:
        aux_names.append("_cr_q")
    rep_cols: list[str] = (
        ["top_2gram_frac", "dup_3gram_frac"] if rep_on else []
    )
    docs = row_filter_stats(
        docs,
        txt,
        rep=rep_on,
        quality=cfg.min_quality is not None,
        lang_profiles=cfg.lang_profiles if lang_detected else None,
    )

    n_words = F.col("_cr_nw")
    checks: list[tuple[str, F.Column, F.Column]] = []
    checks.append(
        (
            "length",
            (n_words >= cfg.min_words) & (n_words <= cfg.max_words),
            F.concat(F.lit("n_words="), n_words.cast("string")),
        )
    )
    if cfg.langs is not None:
        lang = F.col("_cr_lang") if lang_detected else F.col(cfg.lang_col)
        checks.append(
            ("language", lang.isin(*cfg.langs), F.coalesce(lang, F.lit("?")))
        )
    if rep_on:
        cond = F.lit(True)
        if cfg.max_top_2gram_frac is not None:
            cond = cond & (F.col("top_2gram_frac") <= cfg.max_top_2gram_frac)
        if cfg.max_dup_3gram_frac is not None:
            cond = cond & (F.col("dup_3gram_frac") <= cfg.max_dup_3gram_frac)
        checks.append(
            (
                "repetition",
                cond,
                F.concat_ws(
                    ",",
                    F.round("top_2gram_frac", 4).cast("string"),
                    F.round("dup_3gram_frac", 4).cast("string"),
                ),
            )
        )
    if cfg.min_quality is not None:
        q = F.col("_cr_q")
        checks.append(
            ("quality", q >= cfg.min_quality, F.round(q, 4).cast("string"))
        )

    fail_stage = F.lit(None).cast("string")
    fail_detail = F.lit(None).cast("string")
    for name, ok, detail in reversed(checks):
        # NULL is failure: a NULL text makes the length predicate NULL and
        # a NULL/missing lang makes isin() NULL — three-valued logic would
        # let such rows slide past every stage unflagged, so each check's
        # verdict is coalesced to False before negation.
        ok = F.coalesce(ok, F.lit(False))
        fail_stage = F.when(~ok, F.lit(name)).otherwise(fail_stage)
        fail_detail = F.when(~ok, detail.cast("string")).otherwise(fail_detail)
    flagged = docs.withColumn("_stage", fail_stage).withColumn(
        "_detail", fail_detail
    )

    def _pin(frame: DataFrame) -> DataFrame:
        """Persist a NARROW per-stage drop frame: every one is consumed
        twice — the kept path's anti-join AND the audit union — and for
        the score-backed stages (learned quality, perplexity, DSIR,
        near-dup pairs) recomputing it means re-running the whole score
        pass over the stage's input. Measured at 1M docs with all stages
        on: reading kept then audit cost 277.7s + 257.1s before this —
        the audit consumer re-ran ~the entire pipeline. Registered in
        the bounded `_PERSISTED` registry like the survivor frames."""
        frame = frame.persist()
        with _REG_LOCK:
            _PERSISTED.append(frame)
        return frame

    audits = [
        # pinned: re-reading the audit otherwise re-runs the full
        # row-filter projection (incl. the repetition_stats self-join)
        # over the raw corpus on every audit action
        _pin(flagged.where(F.col("_stage").isNotNull()).select(
            F.col(idc).alias("id"),
            F.col("_stage").alias("stage"),
            F.col("_detail").alias("detail"),
        ))
    ]
    survivors = flagged.where(F.col("_stage").isNull()).drop(
        "_stage", "_detail", *rep_cols, *aux_names
    )

    # optional learned quality bound (one broadcast join + groupBy)
    if cfg.quality_model is not None:
        from vectorchord_spark.pipeline.quality_model import score_quality

        scores = score_quality(
            survivors, cfg.quality_model, text_col=txt, id_col=idc
        )
        bad = _pin(scores.where(F.col("logit") < cfg.min_logit)
                   .select(idc, "logit"))
        audits.append(
            bad.select(
                F.col(idc).alias("id"),
                F.lit("quality_model").alias("stage"),
                F.round("logit", 4).cast("string").alias("detail"),
            )
        )
        survivors = survivors.join(
            bad.select(idc), idc, "left_anti"
        )

    # optional CCNet perplexity filter (stupid-backoff n-gram LM scored
    # pure-JVM; pipeline/ngram_lm.py) — one explode + broadcast joins +
    # groupBy, same cost shape as the learned-quality stage
    if cfg.ngram_lm is not None:
        from vectorchord_spark.pipeline.ngram_lm import score_lm

        bits = score_lm(survivors, cfg.ngram_lm, text_col=txt, id_col=idc)
        bad = _pin(bits.where(F.col("bits_per_token") > cfg.max_bits_per_token)
                   .select(idc, "bits_per_token"))
        audits.append(
            bad.select(
                F.col(idc).alias("id"),
                F.lit("perplexity").alias("stage"),
                F.round("bits_per_token", 3).cast("string").alias("detail"),
            )
        )
        survivors = survivors.join(bad.select(idc), idc, "left_anti")

    survivors = survivors.persist()
    with _REG_LOCK:
        _PERSISTED.append(survivors)

    # ---- stage 5: exact dedup (keep min id per content hash) ----
    if cfg.exact_dedup:
        h = F.md5(F.col(txt))
        keeper = Window.partitionBy(h)
        ranked = survivors.withColumn(
            "_keep_id", F.min(idc).over(keeper)
        )
        dropped = ranked.where(F.col(idc) != F.col("_keep_id"))
        audits.append(
            _pin(dropped.select(
                F.col(idc).alias("id"),
                F.lit("exact_dup").alias("stage"),
                F.concat(
                    F.lit("keeper="), F.col("_keep_id").cast("string")
                ).alias("detail"),
            ))
        )
        survivors = ranked.where(F.col(idc) == F.col("_keep_id")).drop(
            "_keep_id"
        )
        if cfg.near_dedup:
            # stage 6 consumes this frame three times (LSH pairs, the
            # quality ranking, the final anti-join) — without a persist
            # each consumer re-runs the md5 window shuffle above
            survivors = survivors.persist()
            with _REG_LOCK:
                _PERSISTED.append(survivors)

    # ---- stage 6: near dedup (LSH pairs -> components -> keep best) ----
    if cfg.near_dedup:
        from vectorchord_spark.pipeline.dedup import (
            connected_components,
            minhash_lsh_pairs,
        )

        pairs = minhash_lsh_pairs(
            survivors,
            id_col=idc,
            text_col=txt,
            n=cfg.shingle_n,
            num_hashes=cfg.minhash_hashes,
            band_rows=cfg.minhash_band_rows,
            max_bucket=cfg.minhash_max_bucket,
        )
        comp = connected_components(pairs)
        # join FIRST, score after: the ranking only ever reads quality for
        # cluster members, but a projection below the join would compute
        # the expensive quality expression for every survivor (and a
        # semi-join pre-restriction pays an extra join over the corpus —
        # measured slower at gate scale). Joining the tiny component
        # frame to the texts and projecting quality on the joined rows
        # scores members only, with no extra pass (A/B: 0.91/1.23/0.83s
        # for all/semi/join-first; identical rows asserted)
        # keeper id via first(id) over the SAME window that ranks: the
        # default frame (unbounded preceding → current row) makes first()
        # the top-ranked id for every cluster member, so one WindowExec
        # computes rank and keeper together and the former rn==1
        # self-join is gone (A/B at sf0.1, identical rows asserted:
        # 0.648 → 0.448s median, OPTIMIZATION_r13.md)
        _w6 = Window.partitionBy("component").orderBy(F.desc("_q"), "id")
        ranked = (
            comp.join(
                survivors.select(F.col(idc).alias("id"), F.col(txt)), "id"
            )
            .withColumn("_q", quality_score(txt))
            .drop(txt)
            .withColumn("_rn", F.row_number().over(_w6))
            .withColumn("_kid", F.first("id").over(_w6))
        )
        losers = _pin(
            ranked.where(F.col("_rn") > 1)
            .select(
                F.col("id"),
                F.lit("near_dup").alias("stage"),
                F.concat(F.lit("keeper="), F.col("_kid").cast("string")).alias(
                    "detail"
                ),
            )
        )
        audits.append(losers.select("id", "stage", "detail"))
        survivors = survivors.join(
            losers.select(F.col("id").alias(idc)), idc, "left_anti"
        )

    # ---- stage 7: decontamination ----
    if cfg.benchmark is not None:
        from vectorchord_spark.pipeline.dedup import contamination

        hits = _pin(contamination(
            survivors,
            cfg.benchmark,
            idc,
            txt,
            cfg.decontaminate_n,
            cfg.decontaminate_min_overlap,
        ))
        audits.append(
            hits.select(
                F.col(idc).alias("id"),
                F.lit("contaminated").alias("stage"),
                F.col("overlap").cast("string").alias("detail"),
            )
        )
        survivors = survivors.join(hits.select(idc), idc, "left_anti")

    # ---- stage 8 (optional): DSIR importance selection ----
    if cfg.dsir_model is not None:
        from vectorchord_spark.pipeline.dsir import resample_dsir

        flagged = resample_dsir(
            survivors, cfg.dsir_model,
            n=cfg.dsir_n, frac=cfg.dsir_frac,
            temperature=cfg.dsir_temperature, seed=cfg.dsir_seed,
            text_col=txt, id_col=idc, return_all=True,
        )
        # pin only the narrow (id, logw, flag) projection: the scoring
        # pass runs once, and BOTH consumers (kept's semi-join, the
        # audit's drop rows) read the cached selection
        sel = _pin(flagged.select(idc, "logw", "_dsir_selected"))
        audits.append(
            sel.where(~F.col("_dsir_selected")).select(
                F.col(idc).alias("id"),
                F.lit("dsir").alias("stage"),
                F.coalesce(
                    F.round("logw", 4).cast("string"), F.lit("unscored")
                ).alias("detail"),
            )
        )
        survivors = survivors.join(
            sel.where(F.col("_dsir_selected")).select(idc), idc, "left_semi"
        )

    audit = audits[0]
    for a in audits[1:]:
        audit = audit.unionByName(a)
    return CurateResult(kept=survivors, audit=audit)
