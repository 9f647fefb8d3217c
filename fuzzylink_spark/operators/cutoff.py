"""Expected-F1 cutoff search (reference ``get_cutoff()``, R/fuzzylink.R:344-371).

The reference sorts ALL pairs twice (asc + desc by match_probability) and
takes running sums to build expected TP/FP/FN at every candidate cutoff,
then picks the probability maximizing expected F1, falling back to 0.5 when
F1 is NaN everywhere (R/fuzzylink.R:366-370).

Scale design: a global sort of 10^12 pairs just to pick one scalar is the
wrong plan. We aggregate probabilities into a bounded histogram first
(one shuffle, <= bins x 3 (bucket, label) rows collected to the driver),
then run the same running-sum program over those rows in numpy —
mathematically identical when probabilities are bucketed, and the bucket
width bounds the cutoff error at 1/bins. ``exact=True`` keeps the
reference's exact per-row program (``_f1_frame``, Spark windows) for
fixture parity at small scale.

Semantics of the running sums (W1-W3):
  asc  order: expected_fn(c)  = Σ_{p<c} p         (matches lost below cutoff)
              identified_fn(c)= Σ_{p<c} [label=Yes]
  desc order: expected_fp(c)  = Σ_{p>=c} (1-p)
              expected_tp(c)  = Σ_{p>=c} p
  precision = TP/(TP+FP); recall = TP/(TP+FN); F1 = 2PR/(P+R)
Labeled rows contribute their hard label instead of p (the reference mixes
identified and expected counts the same way, R/fuzzylink.R:345-364).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _f1_frame(df: DataFrame, p_col: str, w_col: str | None,
              label_col: str | None) -> DataFrame:
    """Shared running-sum program over rows carrying (p, weight, label).

    Label semantics (deliberate improvement over the reference's algebra at
    R/fuzzylink.R:345-364, which lets labels and expectations partially
    cancel): consistent with the final filter P9, labeled-Yes pairs are
    accepted at EVERY cutoff, so they count toward tp unconditionally and
    never toward fn. A labeled-No row above the cutoff counts as one FULL
    false positive: it is ground truth that the model's probability mass in
    that region is wrong, which calibrates the expected FP of the unlabeled
    rows around it (the reference instead credits such rows with -p fp and
    +p tp, which lets confidently-wrong regions pull the cutoff down).
    Unlabeled rows contribute expectations on their side of the cutoff.
    eqNullSafe everywhere: (NULL == 'Yes') is NULL under three-valued
    logic and a NULL term voids the whole sum contribution.

    Contributions are aggregated per DISTINCT p before the running-sum
    windows, so ties in p (e.g. the up-to-3 label splits a histogram
    bucket can carry) always see identical tp/fp/fn — the cutoff argmax
    is deterministic regardless of tie order. Output: one row per
    distinct p.
    """
    w = F.col(w_col) if w_col else F.lit(1.0)
    p = F.col(p_col)
    if label_col:
        is_yes = F.col(label_col).eqNullSafe("Yes").cast("double") * w
        is_no = F.col(label_col).eqNullSafe("No").cast("double") * w
        unl = F.col(label_col).isNull().cast("double") * w
    else:
        is_yes = F.lit(0.0)
        is_no = F.lit(0.0)
        unl = w
    tp_c = unl * p
    fp_c = unl * (1 - p) + is_no
    fn_c = unl * p

    contrib = df.groupBy(p_col).agg(
        F.sum(tp_c).alias("_tp_c"),
        F.sum(fp_c).alias("_fp_c"),
        F.sum(fn_c).alias("_fn_c"),
        F.sum(is_yes).alias("_yes_c"),
    )
    asc = Window.orderBy(F.col(p_col).asc()).rowsBetween(Window.unboundedPreceding, -1)
    desc = Window.orderBy(F.col(p_col).desc()).rowsBetween(Window.unboundedPreceding, 0)
    full = Window.orderBy(F.col(p_col)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    out = (
        contrib.withColumn("fn", F.coalesce(F.sum("_fn_c").over(asc), F.lit(0.0)))
        .withColumn("tp", F.sum("_tp_c").over(desc) + F.sum("_yes_c").over(full))
        .withColumn("fp", F.sum("_fp_c").over(desc))
        .drop("_tp_c", "_fp_c", "_fn_c", "_yes_c")
    )
    # try_divide: a fully-labeled frame can have tp+fp = 0 (or tp = fn = 0
    # at the bottom row), and ANSI mode turns 0/0 into an error, not NaN
    precision = F.try_divide(F.col("tp"), F.col("tp") + F.col("fp"))
    recall = F.try_divide(F.col("tp"), F.col("tp") + F.col("fn"))
    f1 = F.try_divide(F.lit(2.0) * precision * recall, precision + recall)
    return out.withColumn(
        "expected_f1",
        F.when(F.isnan(f1) | f1.isNull(), F.lit(0.0)).otherwise(f1),
    )


def _argmax_f1(tp_c, fp_c, yes_mass: float) -> int | None:
    """``_f1_frame``'s running-sum program in numpy over per-distinct-p
    contributions in ascending p (fn's equal tp's). The running sums add in
    the windows' row order, so every F1 is bit-identical to the Spark
    program. Returns the argmax index, ties on the HIGHEST p
    (R/fuzzylink.R:368-370), or None when no F1 is positive."""
    fn = np.concatenate([[0.0], np.cumsum(tp_c)[:-1]])         # mass below
    tp = np.cumsum(tp_c[::-1])[::-1] + float(yes_mass)         # mass at/above
    fp = np.cumsum(fp_c[::-1])[::-1]
    with np.errstate(invalid="ignore", divide="ignore"):
        prec = tp / (tp + fp)
        rec = tp / (tp + fn)
        f1 = 2.0 * prec * rec / (prec + rec)
    f1 = np.nan_to_num(f1, nan=0.0)
    best = int(np.flatnonzero(f1 == f1.max())[-1])
    return best if f1[best] > 0.0 else None


def expected_f1_cutoff(
    pairs: DataFrame,
    p_col: str = "match_probability",
    label_col: str | None = "match",
    bins: int = 2000,
    exact: bool = False,
    fallback: float = 0.5,
    strict_parity: bool = False,
) -> float:
    """Pick the probability cutoff maximizing expected F1 (A6 argmax).

    ``exact`` reproduces the reference row-level program; the default
    histogram mode buckets p to 1/bins before the same math.
    ``strict_parity`` returns the argmax probability ITSELF, exactly as
    the reference does (R/fuzzylink.R:368-370) — which, combined with the
    strict ``p > cutoff`` accept filter, excludes the argmax row from its
    own optimal set. The default places the cutoff just below the argmax
    (a documented off-by-one improvement); set strict_parity=True (or
    ``LinkConfig.cutoff_strict_parity``) for byte-for-byte reference
    reproduction.
    """
    label = label_col if label_col and label_col in pairs.columns else None
    df = pairs.select(p_col, *([label] if label else []))

    # The F1 evaluated at p counts the p-rows as accepted, but the final
    # filter is strict (p > cutoff, R/fuzzylink.R:472-473) — so unless
    # strict_parity, return a cutoff just BELOW the argmax so the optimal
    # set is what's accepted. (The reference returns the argmax itself,
    # silently excluding its own optimal row — a deliberate off-by-one
    # improvement here.) Exact mode uses the midpoint to the next lower
    # distinct probability; histogram mode steps down half a bucket.
    if exact:
        frame = _f1_frame(df, p_col, None, label)
        best = (  # ties on the HIGHEST p (R/fuzzylink.R:368-370)
            frame.orderBy(F.col("expected_f1").desc(), F.col(p_col).desc())
            .select(p_col, "expected_f1")
            .first()
        )
        if best is None or best["expected_f1"] <= 0.0:
            return fallback  # NaN-F1 guard (R/fuzzylink.R:366-370)
        best_p = float(best[p_col])
        if strict_parity:
            return best_p  # reference-exact: argmax returned as-is
        prev = frame.where(F.col(p_col) < best_p).agg(F.max(p_col)).first()[0]
        if prev is None:
            return best_p - 1e-9  # argmax is the global min: accept everything
        return (best_p + float(prev)) / 2.0

    # histogram mode: one bucketing aggregation; its <= bins x 3 (bucket,
    # label) rows run _f1_frame's program on the driver. Labeled-only
    # buckets stay zero-expectation candidates (exact pairs sit at p = 1).
    rows = df.groupBy((F.round(F.col(p_col) * bins) / bins).alias("_pb"),
                      *([label] if label else [])).agg(
        F.count("*").alias("_w")).collect()
    if not rows:
        return fallback
    pb, w = (np.array([r[c] for r in rows], dtype=np.float64) for c in ("_pb", "_w"))
    lab = [r[label] if label else None for r in rows]
    unl, is_no, is_yes = (np.array([x == v for x in lab], dtype=np.float64) * w
                          for v in (None, "No", "Yes"))
    uniq, inv = np.unique(pb, return_inverse=True)
    best = _argmax_f1(np.bincount(inv, weights=unl * pb),
                      np.bincount(inv, weights=unl * (1 - pb) + is_no),
                      is_yes.sum())
    if best is None:
        return fallback
    best_p = float(uniq[best])
    return best_p if strict_parity else best_p - 0.5 / bins


def expected_f1_cutoff_from_hist(ps, ws, fallback: float = 0.5,
                                 yes_mass: float = 0.0,
                                 strict_parity: bool = False) -> float:
    """Driver-side cutoff over an ALREADY bounded weighted (p, weight)
    histogram of unlabeled pairs (two-pass mode: pass 1 returns <= bins^2
    cells, so no Spark job is needed to pick the cutoff). Same objective
    as ``expected_f1_cutoff``: expectations for unlabeled pairs, plus
    ``yes_mass`` — the count of labeled-Yes/exact pairs, which are
    accepted at EVERY cutoff and count toward tp unconditionally
    (matching ``_f1_frame``'s full-window Yes term); argmax F1 with the
    highest-p tie-break, and a cutoff at the midpoint to the next lower
    distinct p so the optimal set survives the strict ``p > cutoff``
    accept filter."""
    ps = np.asarray(ps, dtype=np.float64)
    ws = np.asarray(ws, dtype=np.float64)
    if ps.size == 0 or ws.sum() <= 0:
        return fallback
    # aggregate per distinct p (tie-determinism), ascending
    uniq, inv = np.unique(ps, return_inverse=True)
    w = np.bincount(inv, weights=ws)
    best = _argmax_f1(w * uniq, w * (1 - uniq), yes_mass)
    if best is None:
        return fallback
    if strict_parity:
        return float(uniq[best])  # reference-exact argmax (R/fuzzylink.R:368-370)
    if best == 0:
        return float(uniq[0]) - 1e-9
    return float(uniq[best] + uniq[best - 1]) / 2.0


def mutual_best_matches(pairs: DataFrame, p_col: str = "match_probability",
                        a_col: str = "A", b_col: str = "B") -> DataFrame:
    """One-to-one post-filter: keep a pair only if it is the highest-
    probability candidate for BOTH its A and its B (mutual argmax; ties
    broken deterministically by the partner key).

    Not in the reference (which returns many-to-many pairs), but standard
    for 1:1 linkage problems (e.g. voter-file dedup): a distinct person on
    each side kills same-name false positives whenever the true match is
    present and stronger. Two window functions, no joins.
    """
    wa = Window.partitionBy(a_col).orderBy(F.desc(p_col), F.asc(b_col))
    wb = Window.partitionBy(b_col).orderBy(F.desc(p_col), F.asc(a_col))
    return (
        pairs.withColumn("_ra", F.row_number().over(wa))
        .withColumn("_rb", F.row_number().over(wb))
        .where((F.col("_ra") == 1) & (F.col("_rb") == 1))
        .drop("_ra", "_rb")
    )


def accepted_matches(pairs: DataFrame, cutoff: float,
                     p_col: str = "match_probability",
                     label_col: str = "match") -> DataFrame:
    """P9 final filter: keep labeled-Yes pairs, or unlabeled pairs above the
    cutoff (R/fuzzylink.R:471-474)."""
    if label_col in pairs.columns:
        cond = (F.col(label_col) == "Yes") | (
            F.col(label_col).isNull() & (F.col(p_col) > F.lit(cutoff))
        )
    else:
        cond = F.col(p_col) > F.lit(cutoff)
    return pairs.where(cond)
