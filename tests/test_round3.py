"""Round-3 verdict items: case-sensitive linkback, persisted results,
compiled-tree RF scoring, two-pass active learning, labeler prompt
context, CJK language ID."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuzzylink_spark import LinkConfig, fuzzylink
from fuzzylink_spark.operators.labeling import CallbackLabeler, GoldLabeler
from fuzzylink_spark.pipeline import assemble, fuzzylink_twopass
from fuzzylink_spark.sources.synth import presidents, voters


# ---------------------------------------------------------------------------
# 1. assemble(): linkback join keys follow exact_case_insensitive
# ---------------------------------------------------------------------------


def _case_fixture(spark):
    dfa = spark.createDataFrame([("Alice", "a1")], "name string, a_tag string")
    dfb = spark.createDataFrame(
        [("Bob", "upper"), ("bob", "lower")], "name string, b_tag string"
    )
    accepted = spark.createDataFrame(
        [("Alice", "Bob", "__all__", 0.9, 0.9, None, 0.95)],
        "A string, B string, block_key string, sim double, jw double, "
        "match string, match_probability double",
    )
    return dfa, dfb, accepted


def test_assemble_case_sensitive_attaches_only_scored_row(spark):
    """Sensitive mode (reference parity, R/fuzzylink.R:476-480): the pair
    table distinguishes 'Bob' from 'bob' — the J7 linkback must not
    re-merge them onto the accepted pair."""
    dfa, dfb, accepted = _case_fixture(spark)
    cfg = LinkConfig(by="name", exact_case_insensitive=False)
    out = assemble(dfa, dfb, accepted, cfg)
    rows = out.where(F.col("B").isNotNull()).collect()
    assert len(rows) == 1
    assert rows[0]["b_tag"] == "upper"


def test_assemble_case_insensitive_attaches_case_variants(spark):
    dfa, dfb, accepted = _case_fixture(spark)
    cfg = LinkConfig(by="name", exact_case_insensitive=True)
    out = assemble(dfa, dfb, accepted, cfg)
    tags = {r["b_tag"] for r in out.where(F.col("B").isNotNull()).collect()}
    assert tags == {"upper", "lower"}


# ---------------------------------------------------------------------------
# 2. fuzzylink() keeps the scored pair table persisted past return
# ---------------------------------------------------------------------------


def test_fuzzylink_result_stays_persisted(spark):
    dfa, dfb, gold = presidents(spark)
    res = fuzzylink(spark, dfa, dfb, by="name", labeler=GoldLabeler(gold),
                    exact_cutoff=True)
    assert res.pairs.storageLevel.useMemory, "pairs unpersisted before return"
    # the linked plan reads the cache, not a fresh FlatMapCoGroups pass
    plan = res.linked._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    res.release()
    assert not res.pairs.storageLevel.useMemory


# ---------------------------------------------------------------------------
# 3. compiled-tree RF scoring (pure Catalyst) == spark.ml transform
# ---------------------------------------------------------------------------


def test_rf_compiled_score_matches_transform(spark):
    from fuzzylink_spark.operators.scoring import fit_rf

    rows = [(i, (i % 97) / 97.0, ((i * 37) % 89) / 89.0,
             "Yes" if ((i % 97) / 97.0 + ((i * 37) % 89) / 89.0) > 1.0 else "No")
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "id long, sim double, jw double, match string")
    model = fit_rf(df, ["sim", "jw"], num_trees=20)
    compiled = df.select("id", model.score_col().alias("p_c"))
    transformed = model.transform_probability(df).select(
        "id", F.col("match_probability").alias("p_t"))
    joined = compiled.join(transformed, "id")
    bad = joined.where(F.abs(F.col("p_c") - F.col("p_t")) > 1e-9).count()
    assert bad == 0, "compiled-tree probabilities diverge from spark.ml"


def test_voters_rf_numeric_ir_no_strings(spark):
    """learner='rf' must fit AND score on the numeric IR (sim, jw) without
    attach_strings — the 10^12-pair plan (full lexical features are
    opt-in via rf_full_features)."""
    from fuzzylink_spark.pipeline import build_scored_pairs, fit_and_score

    dfa, dfb, _gold = voters(spark, n_base=120, seed=5)
    cfg = LinkConfig(by="full_name", blocking_keys=["city"], learner="rf")
    pairs = build_scored_pairs(spark, dfa, dfb, cfg, attach_strings=False).df
    assert "A" not in pairs.columns  # pure numeric IR
    # an unsupervised rf has no labels -> both-classes guard must fire;
    # seed labels from the exact flag alone are one-class
    scored_pairs = pairs.withColumn(
        "match",
        F.when(F.col("sim") > 0.9, "Yes").when(F.col("sim") < 0.3, "No"),
    )
    scored, model = fit_and_score(scored_pairs, cfg)
    assert scored.where(F.col("match_probability").isNull()).count() == 0
    # scoring plan is pure Catalyst: no PythonUDF / ArrowEvalPython stage
    plan = scored._jdf.queryExecution().executedPlan().toString()
    head = plan.split("FlatMapCoGroupsInPandas")[0]
    assert "ArrowEvalPython" not in head and "BatchEvalPython" not in head


# ---------------------------------------------------------------------------
# 4. two-pass active learning: band emit -> label -> refit -> repass
# ---------------------------------------------------------------------------


def test_twopass_active_learning_f1(spark, monkeypatch):
    import fuzzylink_spark.operators.features as feat

    calls: list[bool] = []
    orig = feat.cogrouped_pair_features

    def spy(*args, **kwargs):
        calls.append(kwargs.get("accept") is not None)
        return orig(*args, **kwargs)

    monkeypatch.setattr(feat, "cogrouped_pair_features", spy)

    dfa, dfb, gold = voters(spark, n_base=300, seed=42)
    ga = dfa.select("a_id", F.col("full_name").alias("a_name"))
    gb = dfb.select("b_id", F.col("full_name").alias("b_name"))
    gold_names = (
        gold.where("is_match").join(ga, "a_id").join(gb, "b_id")
        .select("a_name", "b_name")
    )
    res = fuzzylink_twopass(
        spark, dfa, dfb, by="full_name", blocking_keys=["city"],
        config=LinkConfig(learner="logit", max_labels=3000),
        labeler=GoldLabeler(gold_names),
    )
    # every tile GEMM pass ran with an in-kernel accept filter: the full
    # pair table never materialized
    assert calls and all(calls), f"full-melt pass detected: {calls}"
    assert res.metrics["n_band"] > 0
    assert res.metrics["n_labeled"] > 0

    pred = (
        res.linked.where(F.col("B").isNotNull())
        .select("a_id", "b_id").distinct()
    )
    gold_pairs = gold.where("is_match").select("a_id", "b_id")
    tp = pred.join(gold_pairs, ["a_id", "b_id"]).count()
    n_pred, n_gold = pred.count(), gold_pairs.count()
    precision = tp / n_pred if n_pred else 0.0
    recall = tp / n_gold if n_gold else 0.0
    f1 = (2 * precision * recall / (precision + recall)
          if precision + recall else 0.0)
    assert f1 >= 0.99, f"twopass AL F1 {f1:.4f} (P={precision:.4f}, R={recall:.4f})"


def test_twopass_al_rejects_other_learners(spark):
    dfa, dfb, gold = presidents(spark)
    with pytest.raises(ValueError, match="logit"):
        fuzzylink_twopass(spark, dfa, dfb, by="name",
                          config=LinkConfig(learner="rf"),
                          labeler=GoldLabeler(gold))


# ---------------------------------------------------------------------------
# 5. CallbackLabeler prompt context (record_type / instructions)
# ---------------------------------------------------------------------------


def test_callback_labeler_receives_context(spark):
    seen: dict = {}

    def fn(batch, record_type=None, instructions=None):
        seen["record_type"] = record_type
        seen["instructions"] = instructions
        return ["No"] * len(batch)

    lab = CallbackLabeler(fn, spark)
    lab.set_context(record_type="president", instructions="match people")
    pairs = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "A string, B string")
    lab.label_pairs(pairs).collect()
    assert seen == {"record_type": "president", "instructions": "match people"}


def test_fuzzylink_threads_context_to_labeler(spark):
    seen: dict = {}

    def fn(batch, **kwargs):
        seen.update(kwargs)
        return ["No"] * len(batch)

    dfa, dfb, _gold = presidents(spark)
    fuzzylink(spark, dfa, dfb, by="name",
              config=LinkConfig(record_type="president",
                                instructions="compare names"),
              labeler=CallbackLabeler(fn, spark))
    assert seen.get("record_type") == "president"
    assert seen.get("instructions") == "compare names"


def test_callback_labeler_constructor_context_wins(spark):
    """Explicit constructor context survives the pipeline's set_context
    (which must only fill slots the user left unset)."""
    seen: dict = {}

    def fn(batch, record_type=None, instructions=None):
        seen["record_type"] = record_type
        seen["instructions"] = instructions
        return ["No"] * len(batch)

    lab = CallbackLabeler(fn, spark, record_type="company")
    lab.set_context(record_type="entity", instructions="from config")
    pairs = spark.createDataFrame([("a", "b")], "A string, B string")
    lab.label_pairs(pairs).collect()
    assert seen["record_type"] == "company"      # constructor wins
    assert seen["instructions"] == "from config"  # unset slot filled


def test_callback_labeler_plain_fn_still_works(spark):
    lab = CallbackLabeler(lambda batch: ["Yes"] * len(batch), spark)
    pairs = spark.createDataFrame([("a", "b")], "A string, B string")
    out = lab.label_pairs(pairs).collect()
    assert out[0]["match"] == "Yes"


def test_cutoff_strict_parity_flag(spark):
    """ADVICE round-2: strict_parity returns the reference's argmax itself;
    default places the cutoff half a bucket below it."""
    from fuzzylink_spark.operators.cutoff import expected_f1_cutoff

    df = spark.createDataFrame(
        [(0.1,), (0.2,), (0.9,), (0.95,)], "match_probability double")
    soft = expected_f1_cutoff(df, label_col=None, bins=100)
    strict = expected_f1_cutoff(df, label_col=None, bins=100,
                                strict_parity=True)
    assert strict > soft
    assert abs(strict - soft - 0.5 / 100) < 1e-9


# ---------------------------------------------------------------------------
# 6. CJK / Cyrillic language ID
# ---------------------------------------------------------------------------


def test_png_roundtrip_and_filters():
    """PNG codec: encoder roundtrip (filter 0) plus decode of manually
    filtered scanlines (Sub/Up/Average/Paeth) — no Spark needed."""
    import struct
    import zlib

    import numpy as np

    from fuzzylink_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)

    # hand-build a PNG whose rows use filters 1..4 and verify reconstruction
    h, w, ch = img.shape
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int16)
    for r in range(h):
        line = img[r].reshape(-1).astype(np.int16)
        f = (r % 4) + 1
        out = np.zeros_like(line)
        for x in range(len(line)):
            a = int(line[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (line[x] - pred) % 256
        raw += bytes([f]) + out.astype(np.uint8).tobytes()
        prev = line

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(bytes(raw)))
               + chunk(b"IEND", b""))
    assert np.array_equal(decode_png(payload), img)


def test_block_salt_plan_target_cells(spark):
    """Adaptive tiling: target_cells shrinks the effective pair budget so
    small inputs still fan out across the cluster; without it a 1M-pair
    default budget would put this 160k-pair block on one core."""
    from fuzzylink_spark.operators.features import block_salt_plan

    uA = spark.range(400).select(
        F.lit("b").alias("block_key"), F.col("id").cast("string").alias("key"))
    uB = spark.range(400, 800).select(
        F.lit("b").alias("block_key"), F.col("id").cast("string").alias("key"))
    flat = block_salt_plan(uA, uB, pair_budget=1_000_000).first()
    assert flat["ka"] * flat["kb"] == 1  # fits the budget: one tile
    fanned = block_salt_plan(uA, uB, pair_budget=1_000_000,
                             target_cells=8).first()
    # budget shrinks to max(50k, 160k/8) = 50k -> ceil(160k/50k) = 4 cells
    assert fanned["ka"] * fanned["kb"] >= 4
    # the 50k floor bounds only the derived shrink: an explicit smaller
    # budget is kept -> ceil(160k/1k) = 160 cells
    small = block_salt_plan(uA, uB, pair_budget=1000, target_cells=8).first()
    assert small["ka"] * small["kb"] >= 160


@pytest.mark.parametrize("hashed", [True, False])
def test_winnowing_exact_substring_guarantee(spark, hashed):
    """Docs sharing an exact substring of length >= k+w-1 MUST share a
    winnowing fingerprint (the SIGMOD'03 guarantee), for both the hashed
    and the lexicographic selection variants."""
    from fuzzylink_spark.operators.dedup import winnowing_candidate_pairs, winnowing_fingerprints

    shared = "the quick brown fox jumps over the lazy dog today"  # 49 chars
    rows = [
        (1, "prefix one %s suffix alpha" % shared),
        (2, "totally different opening %s and another tail" % shared),
        (3, "no overlap here at all just unrelated words and phrases"),
        (4, "short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnowing_fingerprints(docs, k=8, w=16, hashed=hashed)
    f1 = {r["fp"] for r in fp.where("doc_id = 1").collect()}
    f2 = {r["fp"] for r in fp.where("doc_id = 2").collect()}
    f3 = {r["fp"] for r in fp.where("doc_id = 3").collect()}
    assert f1 & f2, "shared 49-char substring must share a fingerprint"
    assert not (f1 & f3) and not (f2 & f3)
    if hashed:
        pairs = {(r["a"], r["b"]) for r in
                 winnowing_candidate_pairs(docs, k=8, w=16).collect()}
        assert (1, 2) in pairs
        assert all(3 not in p for p in pairs)
    # doc shorter than k still fingerprints (whole content)
    assert fp.where("doc_id = 4").count() == 1


def test_common_substring_kernel_parity():
    """Batch longest-common-substring kernel vs a brute-force reference
    on random strings (padding masks, empty strings, full containment)."""
    import random

    from fuzzylink_spark.functions.strdist import common_substring_batch

    def ref(a, b):
        best = 0
        for i in range(len(a)):
            for j in range(len(b)):
                ln = 0
                while i + ln < len(a) and j + ln < len(b) and a[i + ln] == b[j + ln]:
                    ln += 1
                best = max(best, ln)
        return best

    rng = random.Random(4)
    pairs = [("", ""), ("abc", ""), ("abc", "abc"), ("abc", "zabcy")]
    for _ in range(60):
        a = "".join(rng.choice("abcde") for _ in range(rng.randrange(0, 18)))
        b = "".join(rng.choice("abcde") for _ in range(rng.randrange(0, 18)))
        pairs.append((a, b))
    got = common_substring_batch([p[0] for p in pairs], [p[1] for p in pairs])
    for (a, b), g in zip(pairs, got):
        assert int(g) == ref(a, b), (a, b, g)


def test_exact_substring_pairs(spark):
    """Winnowing recall + true-LCS-substring verification: pairs sharing
    >= min_len chars are found with the exact shared length; shorter
    overlaps are rejected; sub-threshold min_len raises."""
    import pytest as _pytest

    from fuzzylink_spark.operators.dedup import exact_substring_pairs

    shared = "the quick brown fox jumps over the lazy dog"  # 43 chars
    short = "only fifteen ch"                               # 15 chars
    rows = [
        (1, "alpha start %s end one" % shared),
        (2, "beta opening %s closing two" % shared),
        (3, "gamma %s unrelated tail content here three" % short),
        (4, "delta %s and nothing else in common four" % short),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["a"], r["b"]): r["common_len"]
           for r in exact_substring_pairs(docs, min_len=23).collect()}
    assert (1, 2) in out
    assert out[(1, 2)] >= len(shared)
    assert all(p == (1, 2) for p in out)  # the 15-char overlap is rejected
    with _pytest.raises(ValueError, match="guarantee"):
        exact_substring_pairs(docs, min_len=10, k=8, w=16)


def test_read_table_csv_json_orc(spark, tmp_path):
    from fuzzylink_spark.sources.tables import read_table

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    df.write.mode("overwrite").option("header", True).csv(str(tmp_path / "t.csv"))
    df.write.mode("overwrite").json(str(tmp_path / "t.json"))
    df.write.mode("overwrite").orc(str(tmp_path / "t.orc"))
    for fmt in ("csv", "json", "orc"):
        out = read_table(spark, str(tmp_path / f"t.{fmt}"),
                         required=["id", "name"], fmt=fmt)
        assert {r["name"] for r in out.collect()} == {"a", "b"}, fmt


def test_lang_id_scripts(spark):
    from fuzzylink_spark.functions.text import lang_id

    rows = [
        (1, "这是一个中文测试文档 我们写一些汉字", "zh"),
        (2, "これは日本語のテスト文書です ひらがな", "ja"),
        (3, "이것은 한국어 테스트 문서입니다", "ko"),
        (4, "это русский тестовый документ", "ru"),
        (5, "the quick brown fox and the lazy dog", "en"),
        (6, "el perro y la casa de los amigos", "es"),
        (7, "1234 9876 ----", "und"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "id long, text string")
    got = {r["id"]: r["lang"] for r in
           df.select("id", lang_id("text").alias("lang")).collect()}
    for i, _, want in rows:
        assert got[i] == want, f"row {i}: got {got[i]}, want {want}"
