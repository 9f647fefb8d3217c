"""Unit tests per operator: encoder, cosine, tiled candidate pairs and the
tile kernel, cutoff, sampling, EM mixture, connected components."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuzzylink_spark.functions.vectors import embed_strings, embed_keys
from fuzzylink_spark.functions.strdist import jaro_winkler_cross
from fuzzylink_spark.operators.clustering import (
    clusters_to_pairs,
    connected_components,
    pairwise_f1,
)
from fuzzylink_spark.operators.cutoff import accepted_matches, expected_f1_cutoff
from fuzzylink_spark.operators.sampling import (
    kernel_weight_col,
    top_k_per_group,
    weighted_sample_n,
)
from fuzzylink_spark.operators.scoring import (
    fit_logit,
    fit_mixture_em,
    fit_mixture_multi_init,
)


# --- encoder -----------------------------------------------------------------

def test_encoder_deterministic_and_unit_norm():
    m1 = embed_strings(["alpha", "beta", ""], dim=64)
    m2 = embed_strings(["alpha", "beta", ""], dim=64)
    assert np.array_equal(m1, m2)
    norms = np.linalg.norm(m1, axis=1)
    assert norms[0] == pytest.approx(1.0, abs=1e-5)
    assert norms[2] == 0.0  # empty string -> zero vector


def test_encoder_similarity_ordering():
    m = embed_strings(["joe biden", "joseph biden", "donald trump"], dim=256)
    sim_close = float(m[0] @ m[1])
    sim_far = float(m[0] @ m[2])
    assert sim_close > sim_far


def test_embed_keys_distinct(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",), (None,)], "key string")
    out = embed_keys(df, "key", dim=32)
    assert out.count() == 2
    row = out.where("key = 'a'").first()
    assert len(row["embedding"]) == 32


# --- tiled candidate pairs + tile kernel ---------------------------------------

def test_tile_kernel_modes_match_driver_reference(spark):
    """Every tile-kernel mode, under a plan that splits a block into
    several tiles, against a driver-side reference: melt emits exactly the
    within-block cross join ``uA ⋈ uB`` on block_key (each pair once), with
    the f32 GEMM sim, ``jaro_winkler_cross`` jw and the case-insensitive
    exact flag; accept = the melt rows that are exact or above the cutoff;
    band = accept plus flagged near-cutoff rows; hist = the non-exact melt
    rows binned in float64."""
    from collections import Counter

    from fuzzylink_spark.operators.features import (
        block_salt_plan,
        cogrouped_pair_features,
        cogrouped_pair_histogram,
    )

    a_rows = ([("b1", f"name {i}") for i in range(20)] + [("b1", "Alpha Beta")]
              + [("b2", "x"), ("only_a", "z")])
    b_rows = ([("b1", f"name {i}") for i in range(5, 18)] + [("b1", "alpha beta"),
              ("b1", "nome 3")] + [("b2", "X"), ("b2", "y"), ("only_b", "r")])
    uA = spark.createDataFrame(a_rows, "block_key string, key string")
    uB = spark.createDataFrame(b_rows, "block_key string, key string")
    plan = block_salt_plan(uA, uB, pair_budget=40)
    plan_rows = plan.collect()
    tiles = {r["block_key"]: r["ka"] * r["kb"] for r in plan_rows}
    assert tiles["b1"] >= 4  # the big block spans several tiles

    def enc(keys):
        return embed_strings(keys, dim=32)

    ids = {r["key"]: r["id"] for r in uA.unionByName(uB).select(
        "key", F.xxhash64("key").alias("id")).collect()}
    key_of = {v: k for k, v in ids.items()}
    block_of = {r["block_id"]: r["block_key"] for r in plan_rows}

    # driver-side reference: the plain equi join, then per-pair features
    joined = (uA.withColumnRenamed("key", "A")
              .join(uB.withColumnRenamed("key", "B"), "block_key").collect())
    join_keys = [(r["block_key"], r["A"], r["B"]) for r in joined]
    ref = {}
    for r in joined:
        a, b = r["A"], r["B"]
        sim = (enc([a]) @ enc([b]).T)[0, 0]
        jw = jaro_winkler_cross([a.lower()], [b.lower()])[0, 0]
        ref[(r["block_key"], a, b)] = (np.float32(sim), np.float32(jw),
                                       a.lower() == b.lower())

    def keyed(rows):
        return [(block_of[r["block_id"]], key_of[r["a_id"]], key_of[r["b_id"]])
                for r in rows]

    kw = dict(encoder=enc, salt_plan=plan)
    melt = cogrouped_pair_features(uA, uB, **kw).collect()
    melt_keys = keyed(melt)
    assert Counter(melt_keys) == Counter(join_keys)  # every pair exactly once
    got = dict(zip(melt_keys, melt))
    for k, (sim, jw, exact) in ref.items():
        r = got[k]
        assert r["sim"] == pytest.approx(float(sim), abs=1e-6)
        assert r["jw"] == float(jw)
        assert r["exact"] == exact
    assert ref[("b1", "Alpha Beta", "alpha beta")][2] and ref[("b2", "x", "X")][2]

    def post(x, y):
        return (x + y) / 2

    # float64 posterior on the f32 features; exact pairs score 1.0
    p = {k: 1.0 if r["exact"] else post(float(r["sim"]), float(r["jw"]))
         for k, r in got.items()}

    def accepted_at(c):
        return {k for k, v in p.items() if v > c or got[k]["exact"]}

    cutoff = float(np.median(list(p.values())))
    # at cutoff 1.0 only the exact flag accepts
    for c in (1.0, cutoff):
        acc = cogrouped_pair_features(uA, uB, accept=(post, c), **kw).collect()
        assert Counter(keyed(acc)) == Counter(accepted_at(c))
        for k, r in zip(keyed(acc), acc):
            assert r["match_probability"] == p[k]
    accepted = accepted_at(cutoff)

    delta = 0.05
    near = {k for k, v in p.items() if abs(v - cutoff) <= delta} - accepted
    for k_top in (0, 2):
        band = cogrouped_pair_features(
            uA, uB, accept=(post, cutoff), band=(delta, 10**6, k_top), **kw
        ).collect()
        band_keys = keyed(band)
        assert len(band_keys) == len(set(band_keys))
        assert set(band_keys) >= accepted | near
        if k_top == 0:  # cap never binds: exactly accept + the band
            assert set(band_keys) == accepted | near
        for k, r in zip(band_keys, band):
            assert r["accepted"] == (k in accepted)
            assert r["match_probability"] == p[k]

    bins, lo, hi = 20, -1.0, 1.0
    width = (hi - lo) / bins
    want = Counter()
    for r in melt:
        if not r["exact"]:
            bx = int(np.clip((np.float64(r["sim"]) - lo) / width, 0, bins - 1))
            by = int(np.clip((np.float64(r["jw"]) - lo) / width, 0, bins - 1))
            want[(bx, by)] += 1
    hist = cogrouped_pair_histogram(uA, uB, bins=bins, lo=lo, hi=hi,
                                    **kw).collect()
    assert {(r["bx"], r["by"]): r["n"] for r in hist} == dict(want)


# --- cutoff ------------------------------------------------------------------

def _pair_df(spark, probs, labels=None):
    labels = labels or [None] * len(probs)
    return spark.createDataFrame(
        [(f"a{i}", f"b{i}", float(p), l) for i, (p, l) in enumerate(zip(probs, labels))],
        "A string, B string, match_probability double, match string",
    )


def test_cutoff_bimodal(spark):
    probs = [0.01] * 50 + [0.95] * 10
    df = _pair_df(spark, probs)
    cut = expected_f1_cutoff(df, exact=True)
    # strict p > cutoff acceptance: the boundary may sit ON the low mode
    assert 0.01 <= cut <= 0.95
    kept = accepted_matches(df, cut)
    assert kept.count() == 10


def test_cutoff_histogram_close_to_exact(spark):
    rng = np.random.default_rng(0)
    probs = list(np.clip(rng.beta(0.5, 8, 400), 0, 1)) + list(
        np.clip(rng.beta(9, 0.6, 60), 0, 1)
    )
    df = _pair_df(spark, probs)
    exact = expected_f1_cutoff(df, exact=True)
    hist = expected_f1_cutoff(df, bins=2000)
    kept_exact = accepted_matches(df, exact).count()
    kept_hist = accepted_matches(df, hist).count()
    assert abs(kept_exact - kept_hist) <= 3


def test_cutoff_fallback_on_empty(spark):
    df = _pair_df(spark, [])
    assert expected_f1_cutoff(df, exact=True, fallback=0.5) == 0.5


def test_accepted_respects_labels(spark):
    df = _pair_df(spark, [0.9, 0.9, 0.1], ["No", None, "Yes"])
    kept = accepted_matches(df, 0.5)
    got = {r["A"] for r in kept.collect()}
    assert got == {"a1", "a2"}  # labeled-No dropped despite p>cutoff; Yes kept


# --- sampling ----------------------------------------------------------------

def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g1", f"b{i}", float(i)) for i in range(10)]
        + [("g2", "b0", 1.0)],
        "A string, B string, sim double",
    )
    out = top_k_per_group(df, "A", "sim", 3)
    assert out.where("A='g1'").count() == 3
    assert out.where("A='g2'").count() == 1
    top = {r["B"] for r in out.where("A='g1'").collect()}
    assert top == {"b7", "b8", "b9"}


def test_weighted_sample_excludes_zero_weight(spark):
    df = _pair_df(spark, [0.5] * 20 + [0.999999999] * 20)
    # kernel weight ~0 for extreme p, high near p=0.5
    w = kernel_weight_col()
    out = weighted_sample_n(df, w, 10, seed=1)
    probs = [r["match_probability"] for r in out.collect()]
    assert len(probs) == 10
    assert all(p == 0.5 for p in probs)


def test_weighted_sample_deterministic(spark):
    df = _pair_df(spark, list(np.linspace(0.05, 0.95, 50)))
    w = kernel_weight_col()
    s1 = sorted(r["A"] for r in weighted_sample_n(df, w, 5, seed=7).collect())
    s2 = sorted(r["A"] for r in weighted_sample_n(df, w, 5, seed=7).collect())
    assert s1 == s2


# --- models ------------------------------------------------------------------

def test_logit_separates(spark):
    rows = [("a", "b", 0.9, 0.85, "Yes")] * 30 + [("c", "d", 0.2, 0.3, "No")] * 30
    df = spark.createDataFrame(rows, "A string, B string, sim double, jw double, match string")
    model = fit_logit(df, ["sim", "jw"])
    scored = df.withColumn("p", model.score_col())
    ps = scored.select("match", "p").collect()
    for r in ps:
        assert (r["p"] > 0.9) == (r["match"] == "Yes")


def test_em_recovers_bimodal():
    rng = np.random.default_rng(3)
    low = rng.normal(0.2, 0.05, 5000)
    high = rng.normal(0.85, 0.04, 300)
    hist: dict[int, int] = {}
    for x in np.concatenate([low, high]):
        b = int(max(0, min(999, (x + 1) / 2 * 1000)))
        hist[b] = hist.get(b, 0) + 1
    hist_list = [(-1 + (b + 0.5) / 500, n) for b, n in hist.items()]
    model = fit_mixture_multi_init(hist_list)
    assert model.mu1 == pytest.approx(0.85, abs=0.05)
    assert model.mu0 == pytest.approx(0.2, abs=0.05)
    assert model.pi1 == pytest.approx(300 / 5300, rel=0.5)


# --- connected components ----------------------------------------------------

def test_cc_two_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)], "src long, dst long"
    )
    assign = connected_components(edges)
    comp = {r["id"]: r["component"] for r in assign.collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == comp[12] == 10


def test_cc_chain_and_star(spark):
    # long chain exercises multiple star rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "src long, dst long"
    )
    assign = connected_components(edges)
    comps = {r["component"] for r in assign.collect()}
    assert comps == {1}
    assert assign.count() == 30


def test_pairwise_f1_and_expansion(spark):
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], "id long, component long"
    )
    pairs = clusters_to_pairs(assign)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert got == {(1, 2), (1, 3), (2, 3), (4, 5)}
    gold = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (4, 5)], "a long, b long")
    m = pairwise_f1(pairs, gold)
    assert m["f1"] == 1.0
