"""The fuzzylink pipeline: blocking → pairs → features → score → cutoff →
linked output (reference ``fuzzylink()``, R/fuzzylink.R:32-493).

Seven stages, same order as the reference (SURVEY.md §3.1), each one a
checkpointable DataFrame job:

  0 validate + NA-drop (P1)                     R/fuzzylink.R:48-70
  1 blocking: distinct blocks + semi-join prune R/fuzzylink.R:75-90
  2 embeddings over distinct keys A∪B           R/fuzzylink.R:93-105
  3 candidate pairs + sim/jw features           R/fuzzylink.R:113-190
  4 labels: exact short-circuit (+ optional oracle seed)  :193-224
  5 model fit + score all pairs                 :233-263, 384-391
  6 expected-F1 cutoff + accept filter          :344-371, 471-474
  7 assemble: join attributes back              :461-491

Differences from the reference, by design (north rule):
- the similarity matrices never exist — candidate pairs come from a salted
  within-block join and features stream through Arrow batches;
- the default calibrator is an EM two-component mixture on the blended
  similarity score (offline; no external oracle needed); a labeled-data
  logistic fit is available as ``learner='logit'``;
- the cutoff search runs on a bounded probability histogram, not a global
  sort;
- every stage can persist + resume through CheckpointManager, and a
  transitive-clustering step (``cluster_matches``) is available downstream.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fuzzylink_spark.config import LinkConfig
from fuzzylink_spark.functions.vectors import embed_keys
from fuzzylink_spark.operators.blocking import add_block_key, distinct_blocks, drop_incomplete, semi_join_blocks
from fuzzylink_spark.operators.candidates import pair_stats, unique_keys_per_block
from fuzzylink_spark.operators.cutoff import accepted_matches, expected_f1_cutoff
from fuzzylink_spark.operators.labeling import merge_labels
from fuzzylink_spark.operators.sampling import top_k_per_group, uniform_sample_n
from fuzzylink_spark.operators.scoring import (
    fit_logit,
    fit_mixture_on_pairs,
    with_match_probability,
)
from fuzzylink_spark.plans.checkpoint import CheckpointManager, fingerprint

log = logging.getLogger(__name__)

# P4 removal-list driver bounds: above any cap the pipeline falls back
# to the distributed removal plan (module-level so tests can exercise the
# degenerate path). The byte budget of the collect is bounded by
# construction: <= _OCC_COLLECT_CAP keys x (_OCC_PER_KEY_CAP + 1)
# occurrence structs (~100 MB worst case), never the raw occurrence set.
_OCC_COLLECT_CAP = 50_000
_OCC_PER_KEY_CAP = 32
_REMOVAL_PAIR_CAP = 2_000_000


def _progress_fn(progress, verbose: bool):
    """Resolve the per-stage progress surface (reference ``verbose``,
    R/fuzzylink.R:34, 94-99): ``progress`` is a user callback
    ``(stage: str, wall_s: float, info: dict) -> None``; ``verbose=True``
    without one installs a logging printer. Default: silent. Callbacks
    fire AFTER each stage's action completes, with whatever counts that
    action already produced — they never force extra jobs."""
    if progress is not None:
        return progress
    if verbose:
        def _p(stage: str, wall_s: float, info: dict) -> None:
            log.info("fuzzylink stage %-18s %7.2fs %s", stage, wall_s,
                     {k: v for k, v in info.items()} if info else "")
        return _p
    return None


def _emit(cb, stage: str, t0: float, **info) -> float:
    """Fire the progress callback (if any) and return a fresh stage t0."""
    import time

    now = time.monotonic()
    if cb is not None:
        cb(stage, round(now - t0, 3), info)
    return now


@dataclass
class LinkResult:
    linked: DataFrame          # dfA left-joined with accepted matches (J6/J7)
    pairs: DataFrame           # full scored pair table (the central IR)
    cutoff: float
    model: Any
    metrics: dict

    def release(self) -> None:
        """Unpersist the cached pair table. ``pairs`` (and the ``linked``
        plan built over it) stays persisted when ``fuzzylink`` returns so
        the caller's first action is a cache read, not a re-run of the
        featurize GEMM; call this when done with the result in a
        long-lived session."""
        try:
            self.pairs.unpersist()
        except Exception:  # noqa: BLE001 — already released / session gone
            pass


@dataclass
class ScoredPairs:
    """Result of :func:`build_scored_pairs`: the labeled, feature-complete
    pair DataFrame plus an EXPLICIT handle on the persisted upstream
    intermediates (distinct blocks, distinct key sides, salt plan).

    The handle replaces the old ``df._link_intermediates`` dynamic
    attribute, which any transformation between producer and consumer
    silently dropped (leaking executor storage). Ownership is now
    unambiguous: whoever holds the ``ScoredPairs`` calls
    :meth:`release_intermediates` once a downstream result over ``df`` is
    materialized (``fuzzylink`` does; long-lived sessions composing
    ``build_scored_pairs`` directly must too)."""

    df: DataFrame              # the scored pair table (lazy plan)
    intermediates: list        # persisted upstream DataFrames

    def release_intermediates(self) -> None:
        """Unpersist the upstream caches. Idempotent; safe after the
        session is gone. Call AFTER the last action that may recompute
        ``df`` from its upstream plan (or after persisting+materializing
        ``df`` itself), else the next action re-runs the featurize GEMM
        from cold inputs."""
        for d in self.intermediates:
            try:
                d.unpersist()
            except Exception:  # noqa: BLE001 — already released / session gone
                pass
        self.intermediates = []


def build_scored_pairs(
    spark: SparkSession,
    dfA: DataFrame,
    dfB: DataFrame,
    config: LinkConfig,
    ckpt: CheckpointManager | None = None,
    labeler=None,
    attach_strings: bool = True,
) -> ScoredPairs:
    """Stages 0-4: from raw inputs to the labeled, feature-complete pair
    table.

    The internal IR is NUMERIC — (block_id, a_id, b_id, sim, jw, exact,
    match) — so the melt, dedup shuffle, and checkpoint never carry pair
    strings. With ``attach_strings`` (default) the key/block dictionaries
    are joined back at the end, yielding the public
    ``(A, B, block_key, sim, jw, exact, match, ...)`` schema; pass False
    for the pure IR (production path: strings rejoin only at assemble).

    Returns a :class:`ScoredPairs`: ``.df`` is the pair table, and
    ``.release_intermediates()`` unpersists the upstream caches (sides,
    blocks, salt plan) once a downstream result is materialized
    (``fuzzylink`` does this). On ANY raise the persists made so far are
    released here, so failed calls never leak executor storage."""
    persisted: list[DataFrame] = []
    try:
        df = _scored_pairs_impl(spark, dfA, dfB, config, ckpt, labeler,
                                attach_strings, persisted)
        return ScoredPairs(df=df, intermediates=list(persisted))
    except BaseException:
        for df in persisted:
            df.unpersist()
        raise


def _scored_pairs_impl(
    spark: SparkSession,
    dfA: DataFrame,
    dfB: DataFrame,
    config: LinkConfig,
    ckpt: CheckpointManager | None,
    labeler,
    attach_strings: bool,
    persisted: list,
) -> DataFrame:
    by, blocking = config.by, config.blocking_keys
    ckpt = ckpt or CheckpointManager(spark, config.work_dir, config.resume)
    # "irv2" = pair-IR schema version (dense int32 block_id, float32
    # sim/jw): stale checkpoints from the wide-IR era must invalidate
    base_fp = fingerprint(config.by, config.blocking_keys, config.embedding_dim,
                          config.encoder_ngrams, config.encoder_seed, config.seed,
                          config.exact_case_insensitive, "irv2")
    if config.work_dir:
        # chain the INPUT identity into every stage fingerprint, so the same
        # work_dir + config on different data invalidates instead of
        # silently resuming the previous dataset's stages
        from fuzzylink_spark.plans.checkpoint import data_fingerprint

        base_fp = fingerprint(base_fp, data_fingerprint(dfA),
                              data_fingerprint(dfB))

    # stage 0-1: NA-drop, block keys, semi-join prune (P1, P3, J1).
    # The P1 drop counts ride observe() nodes (read back after the first
    # full scan — see below); the existence probe uses an UN-observed plan
    # because its limit(1) short-circuit would complete the observation
    # with partial counts.
    a_src = drop_incomplete(dfA, by, blocking, name="dfA")
    a = add_block_key(a_src, blocking)
    blocks = distinct_blocks(dfA, blocking).persist()
    persisted.append(blocks)
    b_src = drop_incomplete(dfB, by, blocking, name="dfB")
    b = semi_join_blocks(b_src, blocks, blocking,
                         broadcast_threshold=config.broadcast_threshold_rows,
                         known_small=config.blocks_are_small)

    # stage 2: distinct keys per side (P2); the deterministic encoder (S4')
    # runs inline inside each GEMM tile, so the embedding *table* is only
    # materialized as a checkpoint/lineage artifact when persistence is on.
    # The distinct sides feed three downstream consumers (salt plan, dedup
    # check, the cogroup itself) — persist so they compute once.
    uA = unique_keys_per_block(a, by).persist()
    uB = unique_keys_per_block(b, by).persist()
    persisted.extend([uA, uB])
    if config.work_dir:
        keys = uA.select("key").union(uB.select("key")).distinct()
        emb_table = embed_keys(keys, "key", dim=config.embedding_dim,
                               ngrams=config.encoder_ngrams,
                               seed=config.encoder_seed)
        ckpt.materialize("embeddings", fingerprint(base_fp, "emb"), emb_table)

    # stage 3: candidate pairs + features in one cogrouped per-block GEMM
    # pass (J2 + F2/F10); every block adaptively 2-D tiled before any pair
    # exists; embeddings computed in-tile from keys (shuffle moves strings,
    # never vectors)
    from fuzzylink_spark.functions.vectors import embed_strings
    from fuzzylink_spark.operators.features import (
        block_salt_plan,
        cogrouped_pair_features,
        plan_info_of,
    )

    dim, ngrams, eseed = (config.embedding_dim, config.encoder_ngrams,
                          config.encoder_seed)

    def encoder(keys_batch: list[str]):
        return embed_strings(keys_batch, dim=dim, ngrams=ngrams, seed=eseed)

    # the tile plan is built HERE (not inside cogrouped_pair_features) so
    # this function owns its persist lifecycle explicitly — released with
    # the other side caches via the ScoredPairs handle. It is also the
    # authority for the dense block ids the melt emits. Its stats collect
    # is the ONE planning job of this stage (r6): it materializes the
    # uA/uB/blocks caches and completes the P1 observations. The P4
    # removal-list collect below runs CONCURRENTLY with it in a worker
    # thread (independent scans of the same cached sides).
    import concurrent.futures as _fut

    from pyspark.sql import Window

    # P4 pairwise distinct (R/fuzzylink.R:189-190) WITHOUT shuffling the
    # pair table: a (A,B) pair can repeat only when BOTH keys share >= 2
    # blocks, so the exact removal list — every non-minimal common block
    # of such a pair — is computable from the tiny multi-key slices of
    # the SIDES. One bounded aggregation collects each multi-block key's
    # (side, block) occurrences (+ its Spark-computed xxhash64 id) and the
    # per-block cross product + minimal-block window replay on the DRIVER
    # (sorted(blocks)[1:] == the old Window.orderBy(block_key) rn>1 —
    # block_id is the key's rank, so the kept minimal block is identical).
    # The old shape chained multi-key aggregate -> two semi joins -> an
    # equi join -> a window (~1.0s of sequential stages even on cached
    # sides); this is one 2-stage job that runs CONCURRENTLY with the
    # salt-plan stats job below.
    mk_occ = (
        uA.select("block_key", "key", F.lit(0).alias("_side"))
        .unionByName(uB.select("block_key", "key", F.lit(1).alias("_side")))
        .groupBy("key")
        .agg(F.collect_list(F.struct("_side", "block_key")).alias("occs"),
             F.countDistinct("block_key").alias("nb"))
        .where(F.col("nb") > 1)
        # per-key slice bounds the bytes shipped to the driver; a key with
        # more occurrences than the cap arrives truncated (detected below
        # by length) and forces the distributed fallback
        .select(F.xxhash64("key").alias("h"),
                F.slice("occs", 1, _OCC_PER_KEY_CAP + 1).alias("occs"))
    )

    with _fut.ThreadPoolExecutor(max_workers=1) as ex:
        occ_fut = ex.submit(
            lambda: mk_occ.limit(_OCC_COLLECT_CAP + 1).collect())
        salt_plan = block_salt_plan(
            uA, uB, config.salt_pair_threshold,
            target_cells=spark.sparkContext.defaultParallelism * 3).persist()
        plan_info = plan_info_of(salt_plan, uA, uB)
        occ_rows = occ_fut.result()
    persisted.append(salt_plan)

    removal_rows: list | None = None
    if not occ_rows:
        removal_rows = []  # no key spans two blocks: no duplicate pairs
    elif (len(occ_rows) <= _OCC_COLLECT_CAP
          and all(len(r["occs"]) <= _OCC_PER_KEY_CAP for r in occ_rows)):
        from collections import defaultdict

        block_a: dict = defaultdict(list)
        block_b: dict = defaultdict(list)
        for r in occ_rows:
            for o in r["occs"]:
                (block_a if o["_side"] == 0 else block_b)[o["block_key"]].append(r["h"])
        common = [bk for bk in block_a if bk in block_b]
        n_cross = sum(len(block_a[bk]) * len(block_b[bk]) for bk in common)
        if n_cross <= _REMOVAL_PAIR_CAP:
            pair_blocks: dict = defaultdict(list)
            for bk in common:
                for ah in block_a[bk]:
                    for bh in block_b[bk]:
                        pair_blocks[(ah, bh)].append(bk)
            removal_rows = [
                {"block_key": bk, "a_id": ah, "b_id": bh}
                for (ah, bh), bks in pair_blocks.items()
                if len(bks) > 1
                for bk in sorted(bks)[1:]
            ]

    # the salt-plan stats job fully scanned both sides, so the P1 drop
    # observations are complete — surface the reference's warning now
    from fuzzylink_spark.operators.blocking import p1_drop_warning

    p1_drop_warning(a_src)
    p1_drop_warning(b_src)
    # reference errors when blocking leaves dfB empty (R/fuzzylink.R:81-86).
    # The collected plan stats already carry uB's distinct-row count — no
    # probe job (r6; the pre-r6 shape paid a limit(1) count here).
    if blocking and plan_info["sum_nb"] == 0:
        raise ValueError(
            "blocking removed every dfB row: no overlap between dfA and dfB "
            f"on blocking keys {blocking}"
        )

    scored = cogrouped_pair_features(
        uA, uB, encoder=encoder, pair_budget=config.salt_pair_threshold,
        case_insensitive=config.exact_case_insensitive,
        salt_plan=salt_plan)

    if removal_rows:
        # common case: the removal list is tiny — anti-join against a
        # broadcast LOCAL relation (block ids resolved from the plan's
        # dense-rank authority on the driver); zero extra stages in the
        # melt action
        bid = plan_info["block_ids"]
        local = spark.createDataFrame(
            [(bid[r["block_key"]], r["a_id"], r["b_id"])
             for r in removal_rows],
            schema="block_id int, a_id long, b_id long",
        )
        scored = scored.join(F.broadcast(local),
                             ["block_id", "a_id", "b_id"], "left_anti")
    elif removal_rows is None:
        # degenerate multi-block blocking (occurrence or cross-product
        # caps exceeded): same exact removal computed distributed —
        # multi-key slices, equi join per block, minimal-block window —
        # block ids joined from the plan, AQE picking the join strategy:
        # a fixed-width int-id shuffle at worst, never a quadratic
        # broadcast or driver materialization
        multi_keys = (
            uA.select("block_key", "key").union(uB.select("block_key", "key"))
            .groupBy("key")
            .agg(F.countDistinct("block_key").alias("nb"))
            .where(F.col("nb") > 1)
            .select("key")
        )
        mka = uA.join(multi_keys, "key", "left_semi").select(
            "block_key", F.xxhash64("key").alias("a_id"))
        mkb = uB.join(multi_keys, "key", "left_semi").select(
            "block_key", F.xxhash64("key").alias("b_id"))
        w = Window.partitionBy("a_id", "b_id").orderBy("block_key")
        bid_map = F.broadcast(salt_plan.select("block_key", "block_id"))
        removal = (
            mka.join(mkb, "block_key")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") > 1)
            .join(bid_map, "block_key")
            .select("block_id", "a_id", "b_id")
        )
        scored = scored.join(removal, ["block_id", "a_id", "b_id"], "left_anti")
    scored = ckpt.materialize("pairs", fingerprint(base_fp, "pairs"), scored,
                              repartition_cols=["block_id"])
    if config.work_dir:
        ckpt.write_metrics("block_stats", pair_stats(uA, uB))

    # stage 4: labels — exact short-circuit always (the kernel's `exact`
    # flag, an int compare of key hashes per config case mode); oracle
    # seed when given
    scored = scored.withColumn(
        "match",
        F.when(F.col("exact"), F.lit("Yes")).otherwise(F.lit(None).cast("string")),
    )
    if attach_strings or labeler is not None:
        from fuzzylink_spark.operators.features import attach_pair_strings, pair_dictionaries

        key_dict, block_dict = pair_dictionaries(uA, uB, salt_plan)
        scored = attach_pair_strings(scored, key_dict, block_dict)
    if labeler is not None:
        # |uA| from the collected plan stats (== uA.count(): per-block
        # distinct-row counts summed) — no extra job (r6)
        k = max(config.initial_train_n // max(plan_info["sum_na"], 1), 1)
        seed_pairs = top_k_per_group(scored, "A", "sim", k)
        seed_pairs = uniform_sample_n(seed_pairs, config.initial_train_n, config.seed)
        labels = labeler.label_pairs(seed_pairs)
        scored = merge_labels(scored, labels)
    # the wrapper (build_scored_pairs) packages `persisted` into the
    # returned ScoredPairs handle — explicit ownership, no dynamic attrs
    return scored


def fit_and_score(pairs: DataFrame, config: LinkConfig, labeler=None):
    """Stages 5-6a: fit the calibrator and score every pair (M1/M3/M4 + P7).

    With an oracle and ``learner='logit'`` this runs the reference's
    active-learning loop (M6) and recall search (M7); without one, the
    offline EM mixture calibrates on the blended score.
    """
    from fuzzylink_spark.operators.active import active_learning_loop, recall_search_loop

    blended = pairs.withColumn(
        "score", (F.col("sim") + F.col("jw")) / F.lit(2.0)
    )
    # "nontrivial" = not an exact match; prefer the numeric IR's precomputed
    # `exact` flag (no string compare per scan), else compare keys per config
    if "exact" in blended.columns:
        nontrivial_pred = ~F.col("exact")
    elif config.exact_case_insensitive:
        nontrivial_pred = F.lower(F.col("A")) != F.lower(F.col("B"))
    else:
        nontrivial_pred = F.col("A") != F.col("B")
    if config.learner == "rf" and config.rf_full_features:
        # OPT-IN full lexical feature set (the reference's ranger learner,
        # R/fuzzylink.R:179-186) — a per-pair Arrow batch pass over the
        # string-attached pair table. Batch-vectorized, but still Python
        # DP per pair: bounded-input mode only. The DEFAULT rf path fits
        # and scores on the in-tile numeric IR features (sim, jw) with
        # compiled-tree Catalyst scoring — the 10^12-pair plan.
        if "A" not in blended.columns:
            raise ValueError(
                "rf_full_features=True needs the string-attached pair table "
                "(the lexical feature UDFs read the key strings); call "
                "build_scored_pairs with attach_strings=True"
            )
        from fuzzylink_spark.functions.strdist import pair_features_udf, soundex_neq_col

        blended = (
            blended.withColumn("_f", pair_features_udf(F.col("A"), F.col("B")))
            .withColumn("osa", F.col("_f.osa"))
            .withColumn("cosine_qgram", F.col("_f.cosine_qgram"))
            .withColumn("jaccard_qgram", F.col("_f.jaccard_qgram"))
            .withColumn("lcs", F.col("_f.lcs"))
            .withColumn("qgram", F.col("_f.qgram"))
            .withColumn("soundex_neq", soundex_neq_col("A", "B"))
            .drop("_f")
        )
        config = replace(config, features=[
            "sim", "jw", "osa", "cosine_qgram", "jaccard_qgram", "lcs",
            "qgram", "soundex_neq",
        ])
    if config.learner in ("logit", "rf") and labeler is not None:
        scored, model, _grads = active_learning_loop(blended, labeler, config)
        cutoff = expected_f1_cutoff(scored, bins=config.cutoff_bins,
                                    fallback=config.fallback_cutoff)
        scored = recall_search_loop(scored, labeler, config, cutoff)
        return scored, model
    if config.learner == "rf":
        from fuzzylink_spark.operators.scoring import fit_rf

        model = fit_rf(blended, config.features, seed=config.seed)
    elif config.learner == "logit":
        model = fit_logit(blended, config.features)
    elif config.learner == "em1d":
        model = fit_mixture_on_pairs(
            blended.where(nontrivial_pred),
            feature="score", bins=config.cutoff_bins,
        )
    else:  # 'em' -> K=3 2-D (sim, jw) mixture, the default offline calibrator
        import concurrent.futures as _fut

        from fuzzylink_spark.operators.scoring import fit_mixture2d_em, score_histogram_2d

        nontrivial = blended.where(nontrivial_pred)
        # the prevalence-hint stats and the EM histogram are independent
        # scans of the (cached) pair table — run them as concurrent jobs
        # (r6; they were sequential before)
        with _fut.ThreadPoolExecutor(max_workers=1) as _ex:
            stats_fut = _ex.submit(
                lambda: nontrivial.agg(
                    F.count("*").alias("n"),
                    F.approx_count_distinct(
                        "a_id" if "a_id" in blended.columns else "A").alias("na"),
                    F.approx_count_distinct(
                        "b_id" if "b_id" in blended.columns else "B").alias("nb"),
                ).first()
            )
            hist = score_histogram_2d(nontrivial, "sim", "jw")
            stats = stats_fut.result()
        if stats["n"] == 0:
            # nothing to calibrate on (e.g. single-record input): only the
            # exact-match override can fire
            from fuzzylink_spark.operators.scoring import ConstantModel

            model = ConstantModel(0.0)
        else:
            # Fellegi-Sunter-informed prior: each left record has <= ~1 match
            hint = min(stats["na"], stats["nb"]) / stats["n"]
            model = fit_mixture2d_em(hist, prevalence_hint=hint)
            model.features = ("sim", "jw")
    return with_match_probability(
        blended, model, case_insensitive=config.exact_case_insensitive), model


def assemble(dfA: DataFrame, dfB: DataFrame, accepted: DataFrame,
             config: LinkConfig) -> DataFrame:
    """Stage 7 (J6/J7): keep ALL dfA rows (unmatched → NULL B side), attach
    dfB attributes to matched B values, many-to-many
    (R/fuzzylink.R:476-480).

    The linkback join keys follow ``config.exact_case_insensitive``:
    insensitive mode (default) joins on lowercased keys so case-variant
    dfA/dfB rows of an accepted key all link; sensitive mode joins RAW
    (reference parity, R/fuzzylink.R:476-480) — the pair table
    distinguishes 'Smith' from 'smith' there, and the linkback must not
    re-merge them."""
    by, blocking = config.by, config.blocking_keys
    a = add_block_key(dfA, blocking)
    b = add_block_key(dfB, blocking)

    def _k(col):
        return F.lower(col) if config.exact_case_insensitive else col

    m = accepted.select(
        F.col("A"), F.col("B"), F.col("block_key"),
        "sim", "jw", "match", "match_probability",
    )
    res = a.join(
        m,
        (_k(a[by]) == _k(m["A"])) & (a["block_key"] == m["block_key"]),
        "left",
    ).drop(m["block_key"])

    b_renamed = b
    overlap = [c for c in b.columns if c in a.columns and c != "block_key"]
    for c in overlap:
        b_renamed = b_renamed.withColumnRenamed(c, f"{c}_B")
    res = res.join(
        b_renamed,
        (_k(res["B"]) == _k(b_renamed[f"{by}_B" if by in overlap else by]))
        & (res["block_key"] == b_renamed["block_key"]),
        "left",
    ).drop(b_renamed["block_key"])
    return res


def fuzzylink_twopass(
    spark: SparkSession,
    dfA: DataFrame,
    dfB: DataFrame,
    by: str,
    blocking_keys: list[str] | None = None,
    config: LinkConfig | None = None,
    bins: int = 200,
    labeler=None,
    al_band_delta: float = 0.45,
    al_band_cap: int = 5000,
    progress=None,
    verbose: bool = False,
) -> LinkResult:
    """Two-pass linkage for scales where the pair table itself is the
    bottleneck (10^12 candidate pairs ~ tens of TB of IR):

      pass 1  tiles emit a bounded 2-D (sim, jw) histogram of non-exact
              pairs (<= bins^2 rows TOTAL after one tiny shuffle); the EM
              calibrator and the expected-F1 cutoff are fit from it on
              the driver — no pair row ever materializes;
      pass 2  tiles re-run the same GEMM but score pairs IN the kernel
              with the broadcast calibrator and emit ONLY exact matches
              and pairs above the cutoff.

    Kernel compute doubles; shuffle/persist volume collapses from
    O(candidate pairs) to O(accepted pairs). Equivalent to the classic
    path up to histogram quantization of the calibrator inputs (bucket
    width (hi-lo)/bins).

    With ``labeler`` (+ ``config.learner='logit'``) the reference's
    active-learning accuracy mode (R/fuzzylink.R:249-334) runs WITHOUT
    ever materializing the pair table: pass 2 additionally emits the
    bounded uncertainty band around the EM cutoff (posterior within
    ±``al_band_delta``, ≤ ``al_band_cap`` per tile — exactly the support
    of the reference's kernel-weighted sampler, R/fuzzylink.R:268-282),
    the AL loop labels/refits a logit on that band, the pass-1 histogram
    is re-scored under the refit model for a new expected-F1 cutoff, and
    a final in-kernel pass emits the accepted set under the refit
    calibrator (labeled pairs then override per P9: Yes in, No out)."""
    from fuzzylink_spark.sources.tables import validate_columns

    config = replace(config or LinkConfig(), by=by,
                     blocking_keys=list(blocking_keys or []))
    validate_columns(dfA, [by, *config.blocking_keys], name="dfA")
    validate_columns(dfB, [by, *config.blocking_keys], name="dfB")
    if labeler is not None and (
            config.learner != "logit" or list(config.features) != ["sim", "jw"]):
        # fail BEFORE pass 1 — at 10^12 pairs the histogram GEMM is hours
        # of compute, and this check needs only config + labeler
        raise ValueError(
            "two-pass active learning supports learner='logit' on the "
            "in-tile features ['sim', 'jw'] only: the refit calibrator "
            "must re-score the pass-1 histogram and run inside pass-2 "
            "tiles (use the classic fuzzylink() for other learners)"
        )
    blocking = config.blocking_keys

    a = add_block_key(drop_incomplete(dfA, by, blocking, warn=False), blocking)
    # every persist appends to `persisted` INSIDE the try, so a raise
    # anywhere after the first persist — semi_join_blocks' cardinality
    # guard, the empty-overlap check, block_salt_plan's eager stats job,
    # or the body itself — releases exactly the caches made so far.
    # Repeated failed calls in a long-lived session never leak executor
    # storage (same pattern as build_scored_pairs).
    persisted: list[DataFrame] = []
    try:
        blocks = distinct_blocks(dfA, blocking).persist()
        persisted.append(blocks)
        b = semi_join_blocks(drop_incomplete(dfB, by, blocking, warn=False),
                             blocks, blocking,
                             broadcast_threshold=config.broadcast_threshold_rows,
                             known_small=config.blocks_are_small)
        uA = unique_keys_per_block(a, by).persist()
        persisted.append(uA)
        uB = unique_keys_per_block(b, by).persist()
        persisted.append(uB)

        from fuzzylink_spark.functions.vectors import embed_strings

        dim, ngrams, eseed = (config.embedding_dim, config.encoder_ngrams,
                              config.encoder_seed)

        def encoder(keys_batch: list[str]):
            return embed_strings(keys_batch, dim=dim, ngrams=ngrams, seed=eseed)

        # one tiling for every pass (hist / band / accept): fewer planning
        # jobs, and identical tile boundaries across passes by construction.
        # Its collected stats also answer the dfB-overlap check and the
        # side counts downstream — the pre-r6 shape paid a limit(1) probe
        # plus two count() jobs for those.
        from fuzzylink_spark.operators.features import block_salt_plan, plan_info_of

        salt_plan = block_salt_plan(
            uA, uB, config.salt_pair_threshold,
            target_cells=spark.sparkContext.defaultParallelism * 3).persist()
        persisted.append(salt_plan)
        if blocking and plan_info_of(salt_plan, uA, uB)["sum_nb"] == 0:
            raise ValueError(
                "blocking removed every dfB row: no overlap between dfA and "
                f"dfB on blocking keys {blocking}"
            )

        return _twopass_body(
            spark, dfA, dfB, config, bins, labeler, al_band_delta,
            al_band_cap, uA, uB, blocks, salt_plan, encoder,
            cb=_progress_fn(progress, verbose), persisted=persisted)
    except BaseException:
        for df in persisted:
            df.unpersist()
        raise


def _twopass_body(spark, dfA, dfB, config, bins, labeler, al_band_delta,
                  al_band_cap, uA, uB, blocks, salt_plan, encoder, cb=None,
                  persisted=None):
    import time

    import numpy as np

    t0 = time.monotonic()

    from fuzzylink_spark.operators.cutoff import expected_f1_cutoff_from_hist
    from fuzzylink_spark.operators.features import (
        attach_pair_strings,
        cogrouped_pair_features,
        cogrouped_pair_histogram,
        pair_dictionaries,
        plan_info_of,
        prepare_tiles,
    )
    from fuzzylink_spark.operators.scoring import fit_mixture2d_em

    # one PREPARED (persisted) tiling shared by every pass: pass 1
    # materializes the salted/repartitioned sides; pass 2 (and the AL band
    # pass) read cached, already-partitioned blocks and elide the cogroup
    # exchange (r6)
    tiles, tile_sides = prepare_tiles(
        uA, uB, encoder=encoder, pair_budget=config.salt_pair_threshold,
        case_insensitive=config.exact_case_insensitive, salt_plan=salt_plan)
    if persisted is not None:
        persisted.extend(tile_sides)  # released by the caller on any raise

    # pass 1: bounded histogram -> driver-side EM + cutoff. The exact-pair
    # count (a tiny side join, needed only after the histogram) runs in a
    # worker thread so its job overlaps the histogram GEMM (r6; Spark
    # schedules concurrent jobs from separate threads).
    import concurrent.futures as _fut

    lo, hi = -1.0, 1.0
    width = (hi - lo) / bins

    def _exact_mass() -> float:
        # exact pairs are excluded from the histogram but are accepted at
        # EVERY cutoff — count them from the sides (tiny join) and fold
        # the mass into tp, matching the classic _f1_frame objective
        ci = (F.xxhash64(F.lower("key")) if config.exact_case_insensitive
              else F.xxhash64("key"))
        ea = uA.select("block_key", ci.alias("ci")).groupBy("block_key", "ci").agg(
            F.count("*").alias("na"))
        eb = uB.select("block_key", ci.alias("ci")).groupBy("block_key", "ci").agg(
            F.count("*").alias("nb"))
        exact_row = ea.join(eb, ["block_key", "ci"]).agg(
            F.sum(F.col("na") * F.col("nb")).alias("n")).first()
        return float(exact_row["n"] or 0)

    with _fut.ThreadPoolExecutor(max_workers=1) as ex:
        exact_fut = ex.submit(_exact_mass)
        cells = cogrouped_pair_histogram(
            uA, uB, encoder=encoder, bins=bins, lo=lo, hi=hi,
            pair_budget=config.salt_pair_threshold,
            case_insensitive=config.exact_case_insensitive,
            salt_plan=salt_plan, prepared=tiles).collect()
        n_exact = exact_fut.result()
    if not cells:
        raise ValueError("no non-exact candidate pairs to calibrate on")
    hist = np.array(
        [(lo + (r["bx"] + 0.5) * width, lo + (r["by"] + 0.5) * width, r["n"])
         for r in cells], dtype=np.float64,
    )
    n_pairs = float(hist[:, 2].sum())
    # |uA|, |uB| from the collected plan stats — the pre-r6 shape paid two
    # sequential count() jobs here
    plan_info = plan_info_of(salt_plan, uA, uB)
    stats = plan_info["sum_na"], plan_info["sum_nb"]
    model = fit_mixture2d_em(hist, prevalence_hint=min(stats) / max(n_pairs, 1.0))
    model.features = ("sim", "jw")
    post = model.posterior_fn()
    p_cells = post(hist[:, 0], hist[:, 1])
    cutoff = expected_f1_cutoff_from_hist(
        p_cells, hist[:, 2], fallback=config.fallback_cutoff,
        yes_mass=n_exact, strict_parity=config.cutoff_strict_parity)
    t0 = _emit(cb, "pass1_hist+calibrate", t0,
               n_hist_cells=len(cells), n_candidate_pairs=int(n_pairs),
               cutoff=cutoff)

    key_dict, block_dict = pair_dictionaries(uA, uB, salt_plan)
    model_out = model
    scored_band = None
    if labeler is not None:
        # active learning WITHOUT the pair table: pass 2a emits the
        # bounded uncertainty band (±delta around the EM cutoff, capped
        # per tile) — the kernel-weighted sampler's support — the AL loop
        # labels/refits a logit on it, and the pass-1 histogram is
        # re-scored under the refit model for the final cutoff.
        # (learner/features validated at function entry, before pass 1.)
        if hasattr(labeler, "set_context"):
            labeler.set_context(record_type=config.record_type,
                                instructions=config.instructions)
        from fuzzylink_spark.operators.active import active_learning_loop, recall_search_loop
        from fuzzylink_spark.operators.labeling import merge_labels
        from fuzzylink_spark.operators.sampling import uniform_sample_n

        # pass 2a: the bounded label-target POOL — accepted pairs (so
        # false accepts can be labeled No), the uncertainty band (the
        # kernel sampler's support), and every A-record's top-k
        # candidates (the recall-search support) — O(accepted + caps +
        # k·|uA|) rows, never O(candidate pairs)
        banded = cogrouped_pair_features(
            uA, uB, encoder=encoder, pair_budget=config.salt_pair_threshold,
            case_insensitive=config.exact_case_insensitive,
            accept=(post, cutoff), band=(al_band_delta, al_band_cap, 2),
            salt_plan=salt_plan, prepared=tiles)
        pool = banded.dropDuplicates(["a_id", "b_id"])
        pool = attach_pair_strings(pool, key_dict, block_dict).drop("accepted")
        # the pool is bounded — materialize it so the AL rounds iterate
        # on cached rows, never re-running the tile GEMM
        pool = pool.withColumn(
            "match",
            F.when(F.col("exact"), F.lit("Yes")).otherwise(F.lit(None).cast("string")),
        ).localCheckpoint(eager=True)
        seed_pairs = uniform_sample_n(pool, config.initial_train_n, config.seed)
        pool = merge_labels(pool, labeler.label_pairs(seed_pairs))
        scored_pool, logit_model, _grads = active_learning_loop(
            pool, labeler, config)
        coefs = tuple(logit_model.coef)
        em_cutoff = cutoff

        # COMPOSED posterior: the band-trained logit decides only INSIDE
        # the band it was trained on (within ±delta of the EM cutoff); EM
        # keeps deciding outside. A band-only fit must not extrapolate:
        # near the boundary, label can anti-correlate with similarity
        # (near-miss decoys score higher than corrupted true matches), so
        # a globally-applied band logit inverts the ranking wholesale.
        def post_refit(x, y, _b=coefs, _em=post, _c=em_cutoff, _d=al_band_delta):
            p_em = _em(x, y)
            p_lg = 1.0 / (1.0 + np.exp(-(_b[0] + _b[1] * x + _b[2] * y)))
            return np.where(np.abs(p_em - _c) <= _d, p_lg, p_em)

        post = post_refit
        model_out = logit_model
        cutoff = expected_f1_cutoff_from_hist(
            post_refit(hist[:, 0], hist[:, 1]), hist[:, 2],
            fallback=config.fallback_cutoff, yes_mass=n_exact,
            strict_parity=config.cutoff_strict_parity)

        # reference recall search (M7, R/fuzzylink.R:393-459) on the pool:
        # rescore with the COMPOSED posterior (the same scores pass 2b
        # will produce), then spend remaining label budget on A-groups
        # with no accepted match — labeled Yes pairs re-enter via the P9
        # override below even when the calibrator scores them out
        p_em_col = model.posterior_col()
        z = (F.lit(coefs[0]) + F.lit(coefs[1]) * F.col("sim")
             + F.lit(coefs[2]) * F.col("jw"))
        p_lg_col = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        p_comp = F.when(
            F.abs(p_em_col - F.lit(em_cutoff)) <= F.lit(al_band_delta), p_lg_col
        ).otherwise(p_em_col)
        scored_pool = scored_pool.withColumn(
            "match_probability",
            F.when(F.col("exact"), F.lit(1.0)).otherwise(p_comp),
        )
        scored_pool = recall_search_loop(scored_pool, labeler, config, cutoff)
        scored_band = scored_pool.localCheckpoint(eager=True)
        t0 = _emit(cb, "al_band_pool", t0, cutoff=cutoff)

    # pass 2: in-kernel scoring, only accepted pairs ever leave a tile
    accepted = cogrouped_pair_features(
        uA, uB, encoder=encoder, pair_budget=config.salt_pair_threshold,
        case_insensitive=config.exact_case_insensitive,
        accept=(post, cutoff), salt_plan=salt_plan, prepared=tiles)
    accepted = accepted.withColumn(
        "match",
        F.when(F.col("exact"), F.lit("Yes")).otherwise(F.lit(None).cast("string")),
    )
    # multi-block duplicate pairs: dedup on the (small) accepted set
    accepted = accepted.dropDuplicates(["a_id", "b_id"])
    accepted = attach_pair_strings(accepted, key_dict, block_dict)
    if scored_band is not None:
        # P9 label override on the accepted set: labeled No drops out even
        # above the cutoff; labeled Yes joins even below it (the band rows
        # carry the full pair schema, so the union is lossless)
        lab = scored_band.where(F.col("match").isin("Yes", "No")).select(
            "A", "B", F.col("match").alias("_lab"))
        accepted = (
            accepted.join(lab, ["A", "B"], "left")
            .where(F.col("_lab").isNull() | (F.col("_lab") == "Yes"))
            .withColumn("match", F.coalesce(F.col("match"), F.col("_lab")))
            .drop("_lab")
        )
        extra_yes = (
            scored_band.where(F.col("match") == "Yes")
            .join(accepted.select("A", "B"), ["A", "B"], "left_anti")
            .select(*accepted.columns)
        )
        accepted = accepted.unionByName(extra_yes)
    # persist: pass 2 is a full tile GEMM — without this, the metrics
    # count and every later action on res.pairs/res.linked would re-run it
    accepted = accepted.persist()
    linked = assemble(dfA, dfB, accepted, config)
    metrics = {"cutoff": cutoff, "n_candidate_pairs": n_pairs,
               "n_accepted": accepted.count()}
    t0 = _emit(cb, "pass2_accept+assemble", t0,
               n_accepted=metrics["n_accepted"])
    if scored_band is not None:
        metrics["n_band"] = scored_band.count()
        metrics["n_labeled"] = scored_band.where(
            F.col("match").isin("Yes", "No")).count()
    # the accepted set is materialized in cache now — release the side
    # caches so repeated calls in one session don't accumulate storage
    for df in (uA, uB, blocks, salt_plan, *tile_sides):
        df.unpersist()
    return LinkResult(linked=linked, pairs=accepted, cutoff=cutoff,
                      model=model_out, metrics=metrics)


def fuzzylink(
    spark: SparkSession,
    dfA: DataFrame,
    dfB: DataFrame,
    by: str,
    blocking_keys: list[str] | None = None,
    config: LinkConfig | None = None,
    labeler=None,
    exact_cutoff: bool = False,
    progress=None,
    verbose: bool = False,
) -> LinkResult:
    """End-to-end linkage. Returns the linked table (one row per dfA record,
    possibly several on many-to-many matches) plus the scored pair table.

    ``progress`` / ``verbose``: per-stage completion surface (stage name,
    wall seconds, info counts) — see ``_progress_fn``; reference parity
    for the timestamped ``verbose`` messages of R/fuzzylink.R:94-99."""
    import time

    cb = _progress_fn(progress, verbose)
    t0 = time.monotonic()
    config = replace(config or LinkConfig(), by=by,
                     blocking_keys=list(blocking_keys or []))
    # S2 validation with a friendly error before any plan is built
    # (reference R/fuzzylink.R:48-53)
    from fuzzylink_spark.sources.tables import validate_columns

    validate_columns(dfA, [by, *config.blocking_keys], name="dfA")
    validate_columns(dfB, [by, *config.blocking_keys], name="dfB")
    ckpt = CheckpointManager(spark, config.work_dir, config.resume)
    if labeler is not None and hasattr(labeler, "set_context"):
        # reference prompt surface (R/check_match.R:50-54): the labeler
        # sees record_type/instructions without closing over config
        labeler.set_context(record_type=config.record_type,
                            instructions=config.instructions)
    t0 = _emit(cb, "validate", t0)

    sp = build_scored_pairs(spark, dfA, dfB, config, ckpt, labeler)
    # One kernel pass: the pair table is persisted and loaded by one count
    # (n_pairs); the fit reads it, and the cutoff's bucketing scan loads the
    # scored cache from it, after which its cache goes (a non-cascading
    # uncache keeps a loaded dependent cache). scored STAYS persisted past
    # return — LinkResult.linked/.pairs are lazy plans over it, released by
    # LinkResult.release(); only a successful return hands that over, so
    # error paths release every cache here.
    ir = scored = None
    try:
        ir = sp.df.persist()
        n_pairs = ir.count()
        t0 = _emit(cb, "block+featurize", t0, n_pairs=n_pairs)
        scored, model = fit_and_score(ir, config, labeler)
        scored = scored.persist()
        cutoff = expected_f1_cutoff(
            scored, bins=config.cutoff_bins, exact=exact_cutoff,
            fallback=config.fallback_cutoff,
            strict_parity=config.cutoff_strict_parity,
        )
        ir.unpersist()
        t0 = _emit(cb, "score+calibrate", t0, cutoff=cutoff)
        accepted = accepted_matches(scored, cutoff)
        linked = assemble(dfA, dfB, accepted, config)
        metrics = {"cutoff": cutoff, "n_pairs": n_pairs,
                   "n_accepted": accepted.count()}
        ckpt.write_lineage()
        t0 = _emit(cb, "accept+assemble", t0, n_pairs=n_pairs,
                   n_accepted=metrics["n_accepted"])
    except BaseException:
        for d in (scored, ir):
            if d is not None:
                d.unpersist()
        sp.release_intermediates()
        raise
    # the upstream side caches (uA/uB/blocks) are dead weight now
    sp.release_intermediates()
    return LinkResult(linked=linked, pairs=scored, cutoff=cutoff,
                      model=model, metrics=metrics)
