"""The benchmark's workloads. Each one generates its inputs from the seed,
loads them into Spark, runs ONE call of a public entry point until its
result is materialized on the driver, and checks that result against
references computed independently in ``inputs``.

Why these workloads (see FINDINGS.md for sizes and measured findings):

- docs-link: classic ``fuzzylink()``; the only workload that materializes
  and persists the full scored pair table, so it drives the melt, the EM
  histogram scan, the windowed cutoff and ``assemble``.
- docs-neardup: MinHash-LSH candidate pairs, LSH star edges and connected
  components over the same documents; the only workload through
  ``operators.dedup``; tile kernel, EM and cutoff stay idle.
"""

from __future__ import annotations

from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import inputs

DOCS_DUP_SHARE = 0.3     # B-side share of planted near-copies (the gold)


@dataclass
class Outcome:
    pairs: int                       # candidate pairs scored or emitted
    f1: float                        # pairwise F1 against the gold
    problems: list = field(default_factory=list)


def quiet(name: str):
    """The span hook of an untraced run: records nothing."""
    return nullcontext()


def _expect(problems: list, ok: bool, what: str) -> None:
    if not ok:
        problems.append(what)


class DocsLink:
    """``fuzzylink()`` on the documents with bench.py's key and config:
    the first 48 characters, blocking on ``lang``, 128-dim encoder."""

    name = "docs-link"
    docs_per_side = 400      # 41k candidate pairs
    # untimed warm-up iterations: the first pays JVM and Python-worker cold
    # start (~2.5x a steady job), the second still runs ~35% slow
    warmups = 2

    def load(self, spark, seed: int) -> None:
        from fuzzylink_spark import LinkConfig
        from pyspark.sql import functions as F

        docs = inputs.make_docs(seed, self.docs_per_side, DOCS_DUP_SHARE)
        t = docs.table.assign(name=docs.table.text.str.slice(0, inputs.KEY_CHARS))
        self.a = t[t.source.isin(docs.a_sources)]
        self.b = t[~t.source.isin(docs.a_sources)]
        self.gold = docs.gold_pairs
        self.ref_pairs = inputs.candidate_count(
            self.a.rename(columns={"name": "key", "lang": "block"}),
            self.b.rename(columns={"name": "key", "lang": "block"}))
        sdf = spark.createDataFrame(docs.table).cache()
        sdf.count()
        key = F.substring(F.col("text"), 1, inputs.KEY_CHARS).alias("name")
        side_a = F.col("source").isin(docs.a_sources)
        self.dfa = sdf.where(side_a).select(key, "lang", "doc_id")
        self.dfb = sdf.where(~side_a).select(key, "lang", "doc_id")
        self.cfg = LinkConfig(by="name", blocking_keys=["lang"], embedding_dim=128,
                              blocks_are_small=True)
        self.spark = spark
        self.keys = list(self.a.name) + list(self.b.name)
        self.block_sizes = {
            lang: (self.a[self.a.lang == lang].name.nunique(),
                   self.b[self.b.lang == lang].name.nunique())
            for lang in sorted(set(self.a.lang))}

    def run(self, span=quiet):
        from fuzzylink_spark import fuzzylink

        res = fuzzylink(self.spark, self.dfa, self.dfb, by="name",
                        blocking_keys=["lang"], config=self.cfg)
        with span("assemble.materialize"):
            linked = res.linked.select("doc_id", "doc_id_B", "lang", "lang_B").toPandas()
        res.release()
        return res.metrics, linked

    def check(self, result) -> Outcome:
        metrics, linked = result
        p: list = []
        _expect(p, metrics["n_pairs"] == self.ref_pairs,
                f"n_pairs {metrics['n_pairs']} != reference {self.ref_pairs}")
        _expect(p, 0 < metrics["n_accepted"] <= metrics["n_pairs"],
                f"n_accepted {metrics['n_accepted']} out of range")
        _expect(p, set(linked.doc_id) == set(self.a.doc_id),
                "linked output does not carry every A document")
        _expect(p, not linked.duplicated(["doc_id", "doc_id_B"]).any(),
                "linked output repeats a (doc, doc) row")
        m = linked.dropna(subset=["doc_id_B"])
        _expect(p, bool((m.lang == m.lang_B).all()), "a link crosses blocks")
        pred = set(zip(m.doc_id.astype(int), m.doc_id_B.astype(int)))
        tp = len(pred & self.gold)
        return Outcome(int(metrics["n_pairs"]),
                       inputs.pair_f1(tp, len(pred), len(self.gold)), p)


class DocsNearDup:
    """MinHash-LSH candidate pairs (32 hashes, 16 bands, 5-shingles), then
    LSH star edges (16 / 8 / 5) into connected components. Bucket size
    caps are the program's defaults, stated so the reference uses them."""

    name = "docs-neardup"
    docs_per_side = 600      # 1,200 documents
    # job time falls over the first jobs (~14 s cold, then 4.1, 3.6, 3.2,
    # 2.8, 2.5 s) before it levels off
    warmups = 3
    PAIRS = {"num_hashes": 32, "bands": 16, "shingle": 5, "max_bucket": 1000}
    STAR = {"num_hashes": 16, "bands": 8, "shingle": 5, "max_bucket": 100_000}

    def load(self, spark, seed: int) -> None:
        docs = inputs.make_docs(seed, self.docs_per_side, DOCS_DUP_SHARE)
        t = docs.table
        ids, texts = t.doc_id.to_numpy(), list(t.text)
        self.n_docs = len(t)
        pairs, star = (inputs.lsh_buckets(ids, inputs.minhash(texts, p["num_hashes"],
                                                              p["shingle"]),
                                          p["bands"], p["max_bucket"])
                       for p in (self.PAIRS, self.STAR))
        self.ref_pairs = inputs.bucket_pairs(pairs)
        self.ref_components = inputs.components(
            (m[0], x) for m in star for x in m[1:])
        family = {int(d): int(d) for d in ids}
        for a, b in docs.gold_pairs:
            family[b] = a
        self.gold = family
        self.keys = [x[:inputs.KEY_CHARS] for x in texts]
        self.docs = spark.createDataFrame(t).cache()
        self.docs.count()

    def run(self, span=quiet):
        from fuzzylink_spark.operators.clustering import connected_components
        from fuzzylink_spark.operators.dedup import lsh_bucket_star_edges, lsh_candidate_pairs

        with span("dedup.lsh_pairs"):
            cand = lsh_candidate_pairs(self.docs, **self.PAIRS).toPandas()
        with span("dedup.star_edges"):
            edges = lsh_bucket_star_edges(self.docs, **self.STAR)
        with span("clustering.neardup"):
            comp = connected_components(edges).toPandas()
        return cand, comp

    def check(self, result) -> Outcome:
        cand, comp = result
        p: list = []
        got = set(zip(cand.a.astype(int), cand.b.astype(int)))
        _expect(p, len(got) == len(cand), "LSH emitted a pair twice")
        _expect(p, got == self.ref_pairs,
                f"LSH pairs {len(got)} != reference {len(self.ref_pairs)}")
        _expect(p, not comp.id.duplicated().any(), "a document is assigned twice")
        pred = dict(zip(comp.id.astype(int), comp.component.astype(int)))
        _expect(p, pred == self.ref_components,
                "components differ from union-find over the LSH star edges")
        full = {d: pred.get(d, d) for d in self.gold}
        return Outcome(len(cand), inputs.cluster_f1(full, self.gold), p)


WORKLOADS = {w.name: w for w in (DocsLink, DocsNearDup)}
