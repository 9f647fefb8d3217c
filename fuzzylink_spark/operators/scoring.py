"""Match-probability models: logistic (M1/M3) and EM mixture (M4).

Reference: ``glm(match ~ sim + jw, family='binomial')`` fit on the labeled
subset (R/fuzzylink.R:240-245, refit at :307-311) and scored over ALL pairs
(:260-263,303,313,384-388). The labeled set is capped at max_labels=1e4, so
the fit is a driver-side problem; scoring is distributed.

Spark-first decisions:
- the logistic fit collects only the (tiny) labeled subset and runs plain
  NumPy IRLS on the driver — no MLlib dependency, deterministic;
- scoring broadcasts the coefficient vector as literals: probability is a
  pure Catalyst column expression (whole-stage codegen, zero Python);
- the EM mixture (M4 — the offline replacement for the reference's
  LLM-in-the-loop labeler per the build contract) fits two Gaussian
  components on the similarity score. At scale the E/M moments are
  computed on a bounded HISTOGRAM of scores (groupBy rounded score →
  weighted moments), so each EM iteration aggregates ~2k rows no matter
  how many pairs exist.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# logistic regression (M1) — driver-side IRLS on the labeled sample
# ---------------------------------------------------------------------------


@dataclass
class LogitModel:
    features: list[str]    # column names OR SQL expressions (fmla terms)
    coef: list[float]      # [intercept, b_1..b_k]

    def score_col(self):
        """M3: probability as a pure column expression
        1/(1+exp(-(b0 + b1*f1 + ...))) (R/fuzzylink.R:260-263).

        Each feature is parsed with ``F.expr``, so fmla-style terms
        (``sim*jw``, ``pow(sim, 2)``) work exactly like plain columns —
        the reference's user-supplied ``fmla`` (R/fuzzylink.R:42)."""
        z = F.lit(self.coef[0])
        for b, feat in zip(self.coef[1:], self.features):
            z = z + F.lit(b) * F.expr(feat)
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _require_both_classes(counts: dict[str, int]) -> None:
    """A one-class labeled set produces a degenerate always/never-match
    calibrator; fail loudly instead (the reference's glm would too)."""
    missing = [c for c in ("Yes", "No") if counts.get(c, 0) == 0]
    if missing:
        raise ValueError(
            f"labeled subset has no {missing} rows (counts: {counts}); "
            "a supervised learner needs both classes — provide a labeler/"
            "oracle, or use learner='em' (unsupervised calibration)"
        )


def fit_logit(labeled: DataFrame, features: list[str],
              label_col: str = "match", max_iter: int = 50,
              tol: float = 1e-8, ridge: float = 1e-6) -> LogitModel:
    """M1: fit logit(match) ~ features on rows with match in {'Yes','No'}
    (R/fuzzylink.R:235,240-245). Collects ≤ max_labels rows; IRLS in NumPy.
    ``features`` entries may be SQL expressions (fmla terms, e.g.
    ``sim*jw`` — reference R/fuzzylink.R:42)."""
    fcols = [F.expr(f).alias(f"_f{i}") for i, f in enumerate(features)]
    pdf = (
        labeled.where(F.col(label_col).isin("Yes", "No"))
        .select(*fcols, label_col)
        .toPandas()
    )
    if len(pdf) == 0:
        raise ValueError("no labeled rows to fit on")
    _require_both_classes(pdf[label_col].value_counts().to_dict())
    X = np.column_stack(
        [np.ones(len(pdf))]
        + [pdf[f"_f{i}"].to_numpy(float) for i in range(len(features))]
    )
    y = (pdf[label_col] == "Yes").to_numpy(float)
    beta = np.zeros(X.shape[1])
    for _ in range(max_iter):
        z = X @ beta
        p = 1.0 / (1.0 + np.exp(-z))
        w = np.clip(p * (1 - p), 1e-10, None)
        H = (X * w[:, None]).T @ X + ridge * np.eye(X.shape[1])
        g = X.T @ (y - p)
        step = np.linalg.solve(H, g)
        beta = beta + step
        if float(np.max(np.abs(step))) < tol:
            break
    return LogitModel(features=list(features), coef=[float(b) for b in beta])


# ---------------------------------------------------------------------------
# random forest (M2) — the reference's ranger learner (R/fuzzylink.R:233-238)
# via pyspark.ml; distributed fit AND distributed scoring
# ---------------------------------------------------------------------------


def _feature_cols(df: DataFrame, features: list[str]) -> tuple[DataFrame, list[str]]:
    """Materialize fmla-style feature expressions as temp columns; plain
    column names pass through untouched (no plan change)."""
    names, out = [], df
    for i, f in enumerate(features):
        if f in df.columns:
            names.append(f)
        else:
            name = f"_fx{i}"
            out = out.withColumn(name, F.expr(f))
            names.append(name)
    return out, names


def _compile_tree_node(node, feat_exprs):
    """Recursively compile one spark.ml decision-tree node into a Catalyst
    column expression yielding that tree's P(class 1).

    spark.ml routes LEFT when feature <= threshold (ContinuousSplit);
    leaves carry the class-count impurity stats. Only continuous splits
    are compilable (all our features are); a categorical split raises and
    the caller falls back to the transform path."""
    cls_name = node.getClass().getSimpleName()
    if "LeafNode" in cls_name:
        stats = list(node.impurityStats().stats())
        total = sum(stats)
        p1 = (stats[1] / total) if total > 0 and len(stats) > 1 else 0.0
        return F.lit(float(p1))
    split = node.split()
    if "ContinuousSplit" not in split.getClass().getSimpleName():
        raise ValueError("categorical split: not column-compilable")
    fx = feat_exprs[split.featureIndex()]
    thr = float(split.threshold())
    left = _compile_tree_node(node.leftChild(), feat_exprs)
    right = _compile_tree_node(node.rightChild(), feat_exprs)
    return F.when(fx <= F.lit(thr), left).otherwise(right)


@dataclass
class RFModel:
    features: list[str]    # column names or SQL expressions (fmla terms)
    model: object  # pyspark.ml RandomForestClassificationModel

    def score_col(self):
        """P(class 1) as a PURE Catalyst column expression: every tree is
        compiled to a nested CASE WHEN over the feature columns and the
        forest averages them — exactly spark.ml's soft-vote probability
        (per-tree leaf class distribution, averaged), with zero Python,
        zero VectorAssembler row conversion, and no string columns in the
        scoring pass. This is what lets learner='rf' score the NUMERIC
        pair IR at 10^12 pairs: the forest rides the broadcast plan as
        literals, the same way the logit coefficients do.

        Raises ValueError on categorical splits (not used here); callers
        (``with_match_probability``) fall back to ``transform_probability``.
        """
        feat_exprs = [F.expr(f) for f in self.features]
        trees = [t._call_java("rootNode") for t in self.model.trees]
        if not trees:
            raise ValueError("empty forest")
        total = None
        for root in trees:
            expr = _compile_tree_node(root, feat_exprs)
            total = expr if total is None else total + expr
        return total / F.lit(float(len(trees)))

    def transform_probability(self, df: DataFrame) -> DataFrame:
        """Score a DataFrame: adds match_probability = P(class 1)."""
        from pyspark.ml.feature import VectorAssembler
        from pyspark.ml.functions import vector_to_array

        withf, names = _feature_cols(df, self.features)
        assembled = VectorAssembler(
            inputCols=names, outputCol="_fv", handleInvalid="keep"
        ).transform(withf)
        scored = self.model.transform(assembled)
        out = scored.withColumn(
            "match_probability",
            F.element_at(vector_to_array(F.col("probability")), 2),
        )
        drop = ["_fv", "rawPrediction", "probability", "prediction"]
        drop += [n for n in names if n.startswith("_fx")]
        return out.drop(*drop)


def fit_rf(labeled: DataFrame, features: list[str], label_col: str = "match",
           num_trees: int = 100, seed: int = 42) -> RFModel:
    """M2: random-forest probability learner on the labeled subset with the
    full lexical feature set (reference ranger(probability=TRUE) on
    sim+jw+osa+...+soundex, R/fuzzylink.R:233-238). ``features`` entries
    may be SQL expressions (fmla terms, R/fuzzylink.R:42)."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    train = labeled.where(F.col(label_col).isin("Yes", "No")).withColumn(
        "_label", F.col(label_col).eqNullSafe("Yes").cast("double")
    )
    counts = {
        r[label_col]: r["n"]
        for r in train.groupBy(label_col).agg(F.count("*").alias("n")).collect()
    }
    _require_both_classes(counts)
    train, names = _feature_cols(train, features)
    assembled = VectorAssembler(
        inputCols=names, outputCol="_fv", handleInvalid="keep"
    ).transform(train)
    rf = RandomForestClassifier(
        featuresCol="_fv", labelCol="_label", numTrees=num_trees, seed=seed,
        probabilityCol="probability",
    )
    fitted = rf.fit(assembled)
    # Drop the training summary: it holds the SparkSession, and sessions
    # with registered Observations are not task-serializable (Spark 4.1's
    # ObservationManager) — scoring would then fail with TaskNotSerializable.
    try:
        jvm = labeled.sparkSession._jvm
        fitted._java_obj.setSummary(jvm.scala.Option.apply(None))
    except Exception:  # noqa: BLE001 — best-effort; harmless if API shifts
        pass
    return RFModel(features=list(features), model=fitted)


# ---------------------------------------------------------------------------
# EM two-component Gaussian mixture (M4) on a similarity score
# ---------------------------------------------------------------------------


@dataclass
class MixtureModel:
    pi1: float        # weight of the match component
    mu0: float
    sd0: float
    mu1: float
    sd1: float
    feature: str = "sim"

    def posterior_col(self):
        """P(match | score) as a pure Catalyst expression."""
        x = F.col(self.feature)
        def _logpdf(mu: float, sd: float):
            return (
                F.lit(-0.5 * math.log(2 * math.pi) - math.log(sd))
                - (x - F.lit(mu)) ** 2 / F.lit(2 * sd * sd)
            )
        l1 = F.lit(math.log(max(self.pi1, 1e-12))) + _logpdf(self.mu1, self.sd1)
        l0 = F.lit(math.log(max(1 - self.pi1, 1e-12))) + _logpdf(self.mu0, self.sd0)
        m = F.greatest(l1, l0)
        return F.exp(l1 - m) / (F.exp(l1 - m) + F.exp(l0 - m))


def score_histogram(pairs: DataFrame, feature: str = "sim", bins: int = 2000,
                    lo: float = -1.0, hi: float = 1.0) -> list[tuple[float, int]]:
    """Bounded histogram of the score column: ONE distributed aggregation,
    ≤ ``bins`` rows back to the driver. This is the scale move that makes
    every EM iteration (and the cutoff search) O(bins) instead of O(pairs)."""
    width = (hi - lo) / bins
    hist = (
        pairs.select(
            F.least(
                F.lit(bins - 1),
                F.greatest(F.lit(0), F.floor((F.col(feature) - lo) / width)),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    return [(lo + (row["bin"] + 0.5) * width, int(row["n"])) for row in hist]


def fit_mixture_em(
    hist: list[tuple[float, int]],
    max_iter: int = 200,
    tol: float = 1e-9,
    init_split: float = 0.9,
) -> MixtureModel:
    """EM on a weighted histogram of scores. Initialization: top
    (1-init_split) mass seeds the match component. Converges in <50
    iterations on realistic score distributions. Prefer
    ``fit_mixture_multi_init`` which restarts over several splits and keeps
    the best log-likelihood (match prevalence is unknown a priori)."""
    xs = np.array([h[0] for h in hist], dtype=np.float64)
    ws = np.array([h[1] for h in hist], dtype=np.float64)
    total = ws.sum()
    if total == 0:
        raise ValueError("empty histogram")
    order = np.argsort(xs)
    xs, ws = xs[order], ws[order]
    cum = np.cumsum(ws) / total
    split_idx = int(np.searchsorted(cum, init_split))
    split_idx = min(max(split_idx, 1), len(xs) - 1)

    def _wstats(mask):
        w = ws * mask
        sw = max(w.sum(), 1e-9)
        mu = float((w * xs).sum() / sw)
        var = float((w * (xs - mu) ** 2).sum() / sw)
        return mu, math.sqrt(max(var, 1e-8))

    lowmask = np.zeros_like(ws); lowmask[:split_idx] = 1.0
    highmask = 1.0 - lowmask
    mu0, sd0 = _wstats(lowmask)
    mu1, sd1 = _wstats(highmask)
    pi1 = float((ws * highmask).sum() / total)
    pi1 = min(max(pi1, 1e-6), 1 - 1e-6)

    def _logpdf(mu, sd):
        return -0.5 * math.log(2 * math.pi) - np.log(sd) - (xs - mu) ** 2 / (2 * sd * sd)

    prev_ll = -np.inf
    for _ in range(max_iter):
        l1 = math.log(pi1) + _logpdf(mu1, sd1)
        l0 = math.log(1 - pi1) + _logpdf(mu0, sd0)
        m = np.maximum(l1, l0)
        p1 = np.exp(l1 - m)
        p0 = np.exp(l0 - m)
        r1 = p1 / (p1 + p0)
        ll = float((ws * (m + np.log(p1 + p0))).sum())
        w1 = ws * r1
        w0 = ws * (1 - r1)
        s1, s0 = max(w1.sum(), 1e-9), max(w0.sum(), 1e-9)
        mu1 = float((w1 * xs).sum() / s1)
        mu0 = float((w0 * xs).sum() / s0)
        sd1 = math.sqrt(max(float((w1 * (xs - mu1) ** 2).sum() / s1), 1e-8))
        sd0 = math.sqrt(max(float((w0 * (xs - mu0) ** 2).sum() / s0), 1e-8))
        pi1 = min(max(float(s1 / total), 1e-6), 1 - 1e-6)
        if abs(ll - prev_ll) < tol * (abs(prev_ll) + 1.0):
            break
        prev_ll = ll
    if mu1 < mu0:  # ensure component 1 is the high-score (match) component
        mu0, mu1, sd0, sd1, pi1 = mu1, mu0, sd1, sd0, 1 - pi1
    return MixtureModel(pi1=pi1, mu0=mu0, sd0=sd0, mu1=mu1, sd1=sd1)


def _hist_loglik(model: MixtureModel, hist: list[tuple[float, int]]) -> float:
    xs = np.array([h[0] for h in hist], dtype=np.float64)
    ws = np.array([h[1] for h in hist], dtype=np.float64)

    def _logpdf(mu, sd):
        return -0.5 * math.log(2 * math.pi) - math.log(sd) - (xs - mu) ** 2 / (2 * sd * sd)

    l1 = math.log(model.pi1) + _logpdf(model.mu1, model.sd1)
    l0 = math.log(1 - model.pi1) + _logpdf(model.mu0, model.sd0)
    m = np.maximum(l1, l0)
    return float((ws * (m + np.log(np.exp(l1 - m) + np.exp(l0 - m)))).sum())


def fit_mixture_multi_init(
    hist: list[tuple[float, int]],
    splits: tuple[float, ...] = (0.5, 0.9, 0.99, 0.999),
) -> MixtureModel:
    """EM with restarts: match prevalence is unknown (could be 50% or
    0.01%), so try several initial mass splits and keep the highest
    log-likelihood fit. The histogram lives on the driver — restarts are
    O(bins) each, no extra Spark jobs."""
    best, best_ll = None, -np.inf
    for s in splits:
        try:
            model = fit_mixture_em(hist, init_split=s)
        except ValueError:
            continue
        ll = _hist_loglik(model, hist)
        if ll > best_ll:
            best, best_ll = model, ll
    if best is None:
        raise ValueError("mixture fit failed for all initializations")
    return best


def fit_mixture_on_pairs(pairs: DataFrame, feature: str = "sim",
                         bins: int = 2000) -> MixtureModel:
    hist = score_histogram(pairs, feature=feature, bins=bins)
    model = fit_mixture_multi_init(hist)
    model.feature = feature
    return model


# ---------------------------------------------------------------------------
# 2-D EM mixture (Fellegi-Sunter flavored): two diagonal Gaussians on
# (sim, jw) — far more discriminative than any 1-D blend because match and
# non-match clouds separate along a diagonal in feature space.
# ---------------------------------------------------------------------------


@dataclass
class Mixture2D:
    """K-component diagonal-Gaussian mixture on two features; the top
    component (largest mu_x+mu_y) is the match class. K=3 by default:
    random non-matches, near-miss non-matches, matches — two components
    systematically swallow the near-miss cloud into the match class."""

    pis: list[float]
    mus: list[tuple[float, float]]          # per component
    sds: list[tuple[float, float]]
    features: tuple[str, str] = ("sim", "jw")

    @property
    def top(self) -> int:
        return max(range(len(self.mus)), key=lambda k: sum(self.mus[k]))

    def posterior_fn(self):
        """Picklable NumPy posterior (x_arr, y_arr) -> p_arr, for scoring
        INSIDE Arrow tile kernels (two-pass mode: the calibrator params
        broadcast with the closure; no per-pair JVM round trip)."""
        pis = [max(pi, 1e-12) for pi in self.pis]
        mus, sds, top = list(self.mus), list(self.sds), self.top

        def fn(x: np.ndarray, y: np.ndarray) -> np.ndarray:
            logs = [
                math.log(pi)
                - 0.5 * math.log(2 * math.pi) - math.log(sd[0])
                - (x - mu[0]) ** 2 / (2 * sd[0] * sd[0])
                - 0.5 * math.log(2 * math.pi) - math.log(sd[1])
                - (y - mu[1]) ** 2 / (2 * sd[1] * sd[1])
                for pi, mu, sd in zip(pis, mus, sds)
            ]
            L = np.stack(logs)
            m = L.max(axis=0)
            P = np.exp(L - m)
            return P[top] / P.sum(axis=0)

        return fn

    def posterior_col(self):
        x = F.col(self.features[0])
        y = F.col(self.features[1])

        def _logpdf(v, mu, sd):
            return (
                F.lit(-0.5 * math.log(2 * math.pi) - math.log(sd))
                - (v - F.lit(mu)) ** 2 / F.lit(2 * sd * sd)
            )

        ls = [
            F.lit(math.log(max(pi, 1e-12)))
            + _logpdf(x, mu[0], sd[0])
            + _logpdf(y, mu[1], sd[1])
            for pi, mu, sd in zip(self.pis, self.mus, self.sds)
        ]
        m = ls[0]
        for l in ls[1:]:
            m = F.greatest(m, l)
        denom = None
        for l in ls:
            e = F.exp(l - m)
            denom = e if denom is None else denom + e
        return F.exp(ls[self.top] - m) / denom


@dataclass
class ConstantModel:
    """Degenerate calibrator for edge cases with no scorable pairs (e.g. a
    single-record input): every non-exact pair gets probability ``value``;
    the exact-match override in ``with_match_probability`` still applies."""

    value: float = 0.0

    def posterior_col(self):
        return F.lit(self.value)


def score_histogram_2d(pairs: DataFrame, fx: str = "sim", fy: str = "jw",
                       bins: int = 200, lo: float = -1.0, hi: float = 1.0
                       ) -> np.ndarray:
    """Bounded 2-D histogram: ONE aggregation, <= bins^2 rows to the
    driver. Returns array[(x, y, weight)]."""
    width = (hi - lo) / bins

    def bucket(col):
        return F.least(
            F.lit(bins - 1),
            F.greatest(F.lit(0), F.floor((F.col(col) - lo) / width)),
        )

    rows = (
        pairs.select(bucket(fx).alias("bx"), bucket(fy).alias("by"))
        .groupBy("bx", "by")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    return np.array(
        [(lo + (r["bx"] + 0.5) * width, lo + (r["by"] + 0.5) * width, r["n"])
         for r in rows],
        dtype=np.float64,
    )


def fit_mixture2d_em(
    hist: np.ndarray,
    k: int = 3,
    max_iter: int = 300,
    tol: float = 1e-9,
    top_splits: tuple[float, ...] = (0.9, 0.97, 0.99, 0.997),
    prevalence_hint: float | None = None,
) -> Mixture2D:
    """Weighted K-component EM on the 2-D histogram, restarted over several
    top-component mass splits (match prevalence is unknown; a hint like
    min(|uA|,|uB|)/n_pairs — "each left record has at most one true match"
    — adds a Fellegi-Sunter-informed restart). Best log-likelihood wins.
    All O(cells) on the driver. Cells are sorted by (x, y) first, so the
    fit never depends on the order the histogram was collected in."""
    hist = hist[np.lexsort((hist[:, 1], hist[:, 0]))]
    xs, ys, ws = hist[:, 0], hist[:, 1], hist[:, 2]
    total = ws.sum()
    if total == 0:
        raise ValueError("empty histogram")
    order = np.argsort(xs + ys)
    cum = np.cumsum(ws[order]) / total

    def _logpdf(v, mu, sd):
        return -0.5 * math.log(2 * math.pi) - np.log(sd) - (v - mu) ** 2 / (2 * sd * sd)

    def _fit(split: float):
        # init slabs by (x+y) quantile: [..mid slabs..], top slab = matches
        qs = list(np.linspace(0.0, split, k)) + [1.0]
        idxs = []
        for i in range(k):
            a = int(np.searchsorted(cum, qs[i]))
            b = int(np.searchsorted(cum, qs[i + 1])) if i < k - 1 else len(order)
            b = max(b, a + 1)
            idxs.append(order[a:min(b, len(order))])
        mus, sds, pis = [], [], []
        for idx in idxs:
            w = ws[idx]
            sw = max(w.sum(), 1e-9)
            mu = (float((w * xs[idx]).sum() / sw), float((w * ys[idx]).sum() / sw))
            sd = (math.sqrt(max(float((w * (xs[idx] - mu[0]) ** 2).sum() / sw), 1e-4)),
                  math.sqrt(max(float((w * (ys[idx] - mu[1]) ** 2).sum() / sw), 1e-4)))
            mus.append(mu); sds.append(sd); pis.append(max(sw / total, 1e-6))
        prev = -np.inf
        for _ in range(max_iter):
            L = np.stack([
                math.log(max(pis[j], 1e-12))
                + _logpdf(xs, mus[j][0], sds[j][0])
                + _logpdf(ys, mus[j][1], sds[j][1])
                for j in range(k)
            ])
            m = L.max(axis=0)
            P = np.exp(L - m)
            denom = P.sum(axis=0)
            P /= denom
            ll = float((ws * (m + np.log(denom))).sum())
            for j in range(k):
                w = ws * P[j]
                sw = max(w.sum(), 1e-9)
                mus[j] = (float((w * xs).sum() / sw), float((w * ys).sum() / sw))
                sds[j] = (
                    math.sqrt(max(float((w * (xs - mus[j][0]) ** 2).sum() / sw), 1e-4)),
                    math.sqrt(max(float((w * (ys - mus[j][1]) ** 2).sum() / sw), 1e-4)),
                )
                pis[j] = min(max(float(sw / total), 1e-6), 1 - 1e-6)
            if abs(ll - prev) < tol * (abs(prev) + 1.0):
                break
            prev = ll
        return Mixture2D(pis=pis, mus=mus, sds=sds), ll

    splits = list(top_splits)
    if prevalence_hint is not None and 0 < prevalence_hint < 0.5:
        splits.append(1.0 - prevalence_hint)
    best, best_ll = None, -np.inf
    for s in splits:
        try:
            model, ll = _fit(s)
        except Exception:
            continue
        if ll > best_ll:
            best, best_ll = model, ll
    if best is None:
        raise ValueError("2-D mixture fit failed for all initializations")
    return best


# ---------------------------------------------------------------------------
# shared scoring entry
# ---------------------------------------------------------------------------


def with_match_probability(pairs: DataFrame, model,
                           case_insensitive: bool = True) -> DataFrame:
    """M3 + exact-match override: score all pairs, then force
    probability 1.0 where the keys coincide (reference R/fuzzylink.R:390-391,
    the exact-match short-circuit P7). Works with column-expression models
    (logit/mixture: broadcast coefficients, zero Python) and transform
    models (random forest).

    The override prefers a precomputed boolean ``exact`` column (the
    numeric pair IR carries one, avoiding any string compare here); else
    it compares the key strings. NOTE — deliberate deviation: the
    reference's override is case-SENSITIVE (R/fuzzylink.R:390
    ``df$A == df$B``); our default lowercases (see
    ``labeling.exact_match_col``), controlled by ``case_insensitive`` /
    ``LinkConfig.exact_case_insensitive``."""
    if "exact" in pairs.columns:
        is_exact = F.col("exact")
    elif case_insensitive:
        is_exact = F.lower(F.col("A")) == F.lower(F.col("B"))
    else:
        is_exact = F.col("A") == F.col("B")
    if hasattr(model, "transform_probability"):
        # prefer the compiled-tree column expression (pure Catalyst, no
        # VectorAssembler / Python in the scoring pass); fall back to the
        # transform path only when the forest isn't column-compilable
        try:
            p = model.score_col()
        except Exception:  # noqa: BLE001 — categorical splits etc.
            scored = model.transform_probability(
                pairs.drop("match_probability")
                if "match_probability" in pairs.columns else pairs
            )
            return scored.withColumn(
                "match_probability",
                F.when(is_exact, F.lit(1.0)).otherwise(F.col("match_probability")),
            )
        if "match_probability" in pairs.columns:
            pairs = pairs.drop("match_probability")
        return pairs.withColumn(
            "match_probability", F.when(is_exact, F.lit(1.0)).otherwise(p)
        )
    p = model.score_col() if isinstance(model, LogitModel) else model.posterior_col()
    return pairs.withColumn(
        "match_probability",
        F.when(is_exact, F.lit(1.0)).otherwise(p),
    )
