"""Metric definitions: end-to-end values from the span timings, per-layer
values from spans joined with the event log.

Every workload reports every metric. A layer a workload never calls
reads 0 (``operators.*`` on ``query_mix``, ``llm.*`` and ``query.*`` on
``genomics_pipeline``). Per-layer values are per pass of a pipeline and
per sweep of the query mix. The ``llm.*`` layers are measured on the
contract query that exercises each of them (``LLM_QUERIES``): build
time and eager jobs of the query's build, and its action as the
marginal cost.
"""

from __future__ import annotations

from collections import defaultdict

from ledger import TASK_FIELDS, descendants, median, self_times, span_jobs, union_length
from workloads import LLM_QUERIES, MIX

GENOMIC_LAYERS = ["mark_duplicates", "bqsr", "realignment", "sorts", "coverage"]
SPARK_FIELDS = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "python_s",
                "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes"]


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def per_layer_names() -> list[str]:
    names = ["session.get_spark_s",
             "sources.load_bam.build_s", "sources.load_bam.marginal_s",
             "sources.save_parquet.s", "sources.save_bam.s", "sources.bytes_written"]
    for mod, layers in (("operators", GENOMIC_LAYERS), ("llm", LLM_QUERIES)):
        for layer in layers:
            names += [f"{mod}.{layer}.{m}" for m in ("build_s", "eager_jobs", "marginal_s")]
    names += ["driver.eager_jobs", "driver.build_s", "driver.job_union_s", "driver.gap_s"]
    names += [f"spark.{f}" for f in SPARK_FIELDS] + ["spark.peak_rss_mb"]
    names += [f"query.{q}_s" for q in MIX] + ["query.p50_s"]
    names += ["trace.overhead_s"]
    return names


def _fmt(values: dict[str, float]) -> dict[str, dict]:
    return {k: {"value": v, "unit": _unit(k)} for k, v in values.items()}


def _wall(wl, spans: list[dict], passes: list[dict]) -> float:
    """Pipelines: the median pass. Query mix: the sum over the mix of each
    query's best latency over the run's sweeps (best-of-N, as the repo's
    bench.py times queries), i.e. one undisturbed sweep."""
    if wl.name == "query_mix":
        return sum(min(s["end"] - s["start"] for s in spans if s["name"] == f"query.{q}")
                   for q in MIX)
    return median(p["end"] - p["start"] for p in passes)


def end_to_end(wl, spans, passes, setup_s: float) -> dict[str, dict]:
    return _fmt({"setup_s": setup_s, "wall_s": _wall(wl, spans, passes)})


def layer_metrics(wl, spans, jobs, prefix_s, get_spark_s: float, peak_rss: int,
                  overhead_s: float):
    out = dict.fromkeys(per_layer_names(), 0.0)
    passes = [s for s in spans if s["name"] == "pass"]
    n_pass = len(passes)
    by_job = span_jobs(spans, jobs)
    selft = self_times(spans)

    def per_pass_median(name, f):
        """Median over the passes of ``f`` of the span called ``name``."""
        return median(f(s) for s in spans if s["name"] == name)

    for s_name, key in (("sources.load_bam", "sources.load_bam.build_s"),
                        ("sources.save_parquet", "sources.save_parquet.s"),
                        ("sources.save_bam", "sources.save_bam.s")):
        out[key] = per_pass_median(s_name, lambda s: s["end"] - s["start"])
    for layer in GENOMIC_LAYERS:
        name = f"operators.{layer}"
        out[f"{name}.build_s"] = per_pass_median(name, lambda s: selft[s["id"]])
        out[f"{name}.eager_jobs"] = per_pass_median(name, lambda s: len(by_job[s["id"]]))
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    for layer, query in LLM_QUERIES.items():
        runs = [s for s in spans if s["name"] == f"query.{query}"]
        builds = [k for r in runs for k in kids[r["id"]] if k["name"] == "driver.build"]
        actions = [k for r in runs for k in kids[r["id"]] if k["name"] == "driver.action"]
        out[f"llm.{layer}.build_s"] = median(b["end"] - b["start"] for b in builds)
        out[f"llm.{layer}.eager_jobs"] = median(len(by_job[b["id"]]) for b in builds)
        out[f"llm.{layer}.marginal_s"] = median(a["end"] - a["start"] for a in actions)
    prev = 0.0
    for name, t in prefix_s:
        if f"{name}.marginal_s" in out:
            out[f"{name}.marginal_s"] = t - prev
        prev = t

    # driver: build spans are every stage span (pipelines) or every
    # query's build span (mix); their jobs are the eager ones
    in_pass = set().union(*(descendants(spans, p["id"]) for p in passes)) if passes else set()
    builds = [s for s in spans if s["id"] in in_pass and (
        s["name"] == "driver.build" or s["name"].startswith(("operators.", "sources.load"))
    )]
    pass_jobs = [j for sid in in_pass for j in by_job.get(sid, [])]
    n_queries = sum(1 for s in spans if s["name"].startswith("query."))
    scale = 1.0 / max(n_queries / len(MIX) if n_queries else n_pass, 1)
    out["driver.eager_jobs"] = scale * sum(len(by_job[s["id"]]) for s in builds)
    out["driver.build_s"] = scale * sum(selft[s["id"]] for s in builds)
    union = union_length((j["submit"], j["end"]) for j in pass_jobs)
    out["driver.job_union_s"] = scale * union
    out["driver.gap_s"] = scale * (sum(p["end"] - p["start"] for p in passes) - union)

    tot = {f: 0.0 for f in SPARK_FIELDS}
    for j in pass_jobs:
        tot["jobs"] += 1
        tot["stages"] += j["n_stages"]
        for f in ("tasks", *TASK_FIELDS):
            tot[f] += j[f]
    tot["python_s"] = tot["executor_run_s"] - tot["executor_cpu_s"]
    for f in SPARK_FIELDS:
        out[f"spark.{f}"] = scale * tot[f]

    for q in MIX:
        out[f"query.{q}_s"] = per_pass_median(f"query.{q}", lambda s: s["end"] - s["start"])
    out["query.p50_s"] = median(
        s["end"] - s["start"] for s in spans if s["name"].startswith("query."))
    out["session.get_spark_s"] = get_spark_s
    out["spark.peak_rss_mb"] = peak_rss / 2**20
    out["sources.bytes_written"] = float(wl.output_bytes())
    out["trace.overhead_s"] = overhead_s
    return _fmt(out)
