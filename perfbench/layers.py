"""Per-layer metrics of one traced iteration.

``install`` wraps the layer functions where the entry points look them
up: ``pipeline`` binds several at import, the rest are looked up on their
own modules at call time. ``collect`` turns the spans, the Spark
status-store deltas and the captured stderr into the ``per_layer``
metrics of BENCHMARK.json. A layer a workload does not reach reads 0.
"""

from __future__ import annotations

COGROUP = "FlatMapCoGroupsIn"
UDF_EVAL = "ArrowEvalPython"
WINDOW_WARNING = "No Partition Defined for Window operation"
FALLBACK_WORDS = ("fallback", "falling back", "falls back")


def install(tracer, counts: dict) -> None:
    import fuzzylink_spark.pipeline as pipeline
    from fuzzylink_spark.operators import clustering, features, scoring

    bound = (("drop_incomplete", "blocking"), ("add_block_key", "blocking"),
             ("distinct_blocks", "blocking"), ("semi_join_blocks", "blocking"),
             ("unique_keys_per_block", "candidates"),
             ("build_scored_pairs", "pairs"), ("fit_and_score", "scoring.fit"),
             ("expected_f1_cutoff", "cutoff"), ("accepted_matches", "cutoff.accept"),
             ("assemble", "assemble"), ("connected_components", "clustering"))
    for module in (pipeline, clustering):
        for attr, name in bound:
            if hasattr(module, attr):
                tracer.wrap(module, attr, name)

    def plan(args, kwargs, result):
        counts["plan"] = result

    def hist(args, kwargs, result):
        counts["hist_cells"] = counts.get("hist_cells", 0) + len(result)

    def union_find(args, kwargs, result):
        counts["uf_edges"] = counts.get("uf_edges", 0) + len(args[0])

    def star_round(args, kwargs, result):
        counts["rounds"] = counts.get("rounds", 0) + 1

    tracer.wrap(features, "block_salt_plan", "features.plan", plan)
    tracer.wrap(features, "plan_info_of", "features.plan")
    tracer.wrap(scoring, "score_histogram_2d", "scoring.hist", hist)
    tracer.wrap(clustering, "_driver_union_find", "clustering.driver", union_find)
    tracer.wrap(clustering, "_large_star", "clustering.round", star_round)


def _tile_skew(plan, block_sizes: dict) -> float:
    """max / mean candidate pairs per tile, from the program's tile grid
    (ka x kb tiles per block) and the known distinct keys per block."""
    tiles = []
    for r in plan.collect():
        n_a, n_b = block_sizes.get(r["block_key"], (0, 0))
        tiles += [n_a * n_b / (r["ka"] * r["kb"])] * (r["ka"] * r["kb"])
    mean = sum(tiles) / len(tiles) if tiles else 0.0
    return max(tiles) / mean if mean else 0.0


def collect(tracer, status, mark: dict, wall_s: float, wl, outcome, log_text: str,
            counts: dict, cores: int) -> dict:
    jobs = status.jobs_since(mark)
    stages = status.stage_totals(mark)
    execs = status.executions_since(mark, (COGROUP, UDF_EVAL))

    def nodes(prefix):
        return [m for e in execs for name, m in e["nodes"] if name.startswith(prefix)]

    ran = [m for m in nodes(COGROUP)
           if m.get("number of output rows", 0) > 0
           or m.get("time to run Python workers", 0) > 0]

    def kernel(metric):
        return sum(m.get(metric, 0.0) for m in ran)

    # the first SQL execution inside connected_components is the eager
    # checkpoint of its input: it runs the caller's edge plan
    edge_build = 0.0
    for s in tracer.spans:
        if s["name"] == "clustering":
            first = s["exec"] - mark["exec"]
            edge_build += execs[first]["s"] if first < len(execs) else 0.0
    plan = counts.get("plan")
    info = getattr(plan, "_fl_plan_info", None) or {}
    neardup = wl.name == "docs-neardup"
    dedup_calls = sum(s["name"].startswith("dedup") for s in tracer.spans)
    return {
        "blocking.s": tracer.total("blocking"),
        "candidates.distinct_keys": info.get("sum_na", 0) + info.get("sum_nb", 0),
        "features.plan_s": tracer.total("features.plan", self_time=False),
        "features.plan_jobs": tracer.count("features.plan", "jobs"),
        "features.tiles": info.get("total_cells", 0),
        "features.tile_skew": _tile_skew(plan, wl.block_sizes) if plan is not None else 0.0,
        "features.kernel_passes": len(ran),
        "features.kernel_py_s": kernel("time to run Python workers"),
        "features.py_boot_init_s": kernel("time to start Python workers")
        + kernel("time to initialize Python workers"),
        "features.py_bytes_sent": kernel("data sent to Python workers"),
        "features.py_bytes_received": kernel("data returned from Python workers"),
        "features.emit_ratio": (kernel("number of output rows") / outcome.pairs
                                if ran and outcome.pairs else 0.0),
        "scoring.fit_s": tracer.total("scoring.fit", self_time=False),
        "scoring.hist_cells": counts.get("hist_cells", 0),
        "cutoff.s": tracer.total("cutoff", self_time=False),
        "cutoff.jobs": tracer.count("cutoff", "jobs"),
        "cutoff.single_partition_windows": log_text.count(WINDOW_WARNING),
        "assemble.s": tracer.total("assemble", self_time=False),
        "dedup.s": tracer.total("dedup", self_time=False) + (edge_build if neardup else 0.0),
        "dedup.signature_evals_per_doc": (
            sum(m.get("number of output rows", 0.0) for m in nodes(UDF_EVAL))
            / (dedup_calls * wl.n_docs) if dedup_calls else 0.0),
        "dedup.candidate_pairs": outcome.pairs if neardup else 0,
        "clustering.s": tracer.total("clustering", self_time=False) - edge_build,
        "clustering.edges_in": counts.get("uf_edges", 0),
        "clustering.distributed_rounds": counts.get("rounds", 0),
        "spark.jobs": jobs,
        "spark.stages": stages["stages"],
        "spark.tasks": stages["tasks"],
        "spark.shuffle_write_bytes": stages["shuffle_write"],
        "spark.shuffle_read_bytes": stages["shuffle_read"],
        "spark.executor_cpu_s": stages["cpu_s"],
        "spark.cpu_busy": stages["cpu_s"] / (wall_s * cores),
        "log.fallback_warnings": sum(
            any(w in line.lower() for w in FALLBACK_WORDS)
            for line in log_text.splitlines()),
    }
