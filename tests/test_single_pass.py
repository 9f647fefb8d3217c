"""One tile-kernel pass per fuzzylink() call, a driver-side histogram
cutoff bit-identical to the Spark running-sum program, and linkage results
that do not depend on the shuffle partition count."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_round5 import _cached_ids

from fuzzylink_spark.config import LinkConfig
from fuzzylink_spark.operators.cutoff import _f1_frame, accepted_matches, expected_f1_cutoff
from fuzzylink_spark.pipeline import fuzzylink, fuzzylink_twopass
from fuzzylink_spark.sources.synth import voters


def _sql_store(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def _execution_ids(spark) -> list[int]:
    execs = _sql_store(spark).executionsList()
    return [execs.apply(i).executionId() for i in range(execs.size())]


def _kernel_rows(spark, eid: int) -> int:
    """Rows the cogroup tile kernel emitted inside SQL execution ``eid``
    (0 when the plan only reads a cache built by an earlier execution)."""
    store = _sql_store(spark)
    values = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    rows = 0
    for j in range(nodes.size()):
        node = nodes.apply(j)
        if not node.name().startswith("FlatMapCoGroupsIn"):
            continue
        ms = node.metrics()
        for k in range(ms.size()):
            m = ms.apply(k)
            v = values.get(m.accumulatorId())
            if m.name() == "number of output rows" and v.isDefined():
                rows += int(v.get().replace(",", ""))
    return rows


def test_fuzzylink_runs_the_tile_kernel_once(spark):
    dfa, dfb, _ = voters(spark, n_base=40, seed=7)
    before_ids = set(_execution_ids(spark))
    before_rdds = _cached_ids(spark)
    res = fuzzylink(spark, dfa, dfb, by="full_name", blocking_keys=["city"],
                    config=LinkConfig(embedding_dim=32))
    emitting = [e for e in _execution_ids(spark)
                if e not in before_ids and _kernel_rows(spark, e) > 0]
    assert len(emitting) == 1, f"kernel ran in executions {emitting}"
    assert _kernel_rows(spark, emitting[0]) >= res.metrics["n_pairs"] > 0
    assert res.pairs.storageLevel.useMemory
    assert res.linked.count() >= dfa.count()
    assert res.pairs.storageLevel.useMemory
    res.release()
    assert not res.pairs.storageLevel.useMemory
    assert _cached_ids(spark) - before_rdds == set()


def _bucket_table_argmax(df, bins: int):
    """The Spark program the histogram cutoff replaces: bucket, then
    ``_f1_frame``'s windows over the bucket table, highest-p tie-break.
    Returns the argmax p, or None when no expected F1 is positive."""
    label = ["match"] if "match" in df.columns else []
    buckets = df.groupBy(
        (F.round(F.col("match_probability") * bins) / bins).alias("p"), *label
    ).agg(F.count("*").cast("double").alias("w"))
    best = (_f1_frame(buckets, "p", "w", label[0] if label else None)
            .orderBy(F.col("expected_f1").desc(), F.col("p").desc()).first())
    return None if best is None or best["expected_f1"] <= 0.0 else best["p"]


@pytest.mark.parametrize("bins", [20, 2000])
def test_histogram_cutoff_matches_spark_program(spark, bins):
    rng = np.random.default_rng(bins)
    for case in range(10):
        n = int(rng.integers(1, 80))
        # half the rows on the bucket grid (ties), half anywhere in [0, 1)
        on_grid = rng.integers(0, bins, size=n) / bins
        p = np.where(rng.random(n) < 0.5, on_grid, rng.random(n))
        lab = rng.choice(np.array(["Yes", "No", None], dtype=object), size=n,
                         p=[0.1, 0.15, 0.75])
        rows = [(float(x), y) for x, y in zip(p, lab)]
        rows += [(1.0, "Yes")] * int(rng.integers(0, 4))  # exact pairs: Yes-only p=1
        if case == 5:  # every pair labeled No: no positive F1, the fallback
            rows = [(x, "No") for x, _ in rows]
        df = spark.createDataFrame(rows, "match_probability double, match string")
        if case % 4 == 3:
            df = df.drop("match")
        best = _bucket_table_argmax(df, bins)
        for strict in (False, True):
            want = 0.5 if best is None else best if strict else best - 0.5 / bins
            got = expected_f1_cutoff(df, bins=bins, strict_parity=strict)
            assert got == want, (bins, case, strict, got, want)


def test_linkage_invariant_to_shuffle_partitions(spark):
    dfa, dfb, _ = voters(spark, n_base=60, seed=3)
    cfg = LinkConfig(embedding_dim=32)
    kw = {"by": "full_name", "blocking_keys": ["city"], "config": cfg}
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    runs = []
    try:
        for n in ("3", "11"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            res = fuzzylink(spark, dfa, dfb, **kw)
            classic = {(r["A"], r["B"]) for r in accepted_matches(
                res.pairs, res.cutoff).select("A", "B").collect()}
            res.release()
            two = fuzzylink_twopass(spark, dfa, dfb, **kw)
            twopass = {(r["A"], r["B"]) for r in two.pairs.select("A", "B").collect()}
            two.pairs.unpersist()
            runs.append((res.cutoff, classic, two.cutoff, twopass))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert runs[0][1] and runs[0][3]
    assert runs[0] == runs[1]
