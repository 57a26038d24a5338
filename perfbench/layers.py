"""Per-layer metrics of a traced run, from its spans and its Spark event log.

Every value is per timed iteration (totals over the traced steady
iterations divided by their count). A layer a workload does not exercise
reports 0.
"""

from __future__ import annotations

from workloads import HEADLINE_RUN

LINEAGE_STAGES = ("pip_counts", "tile_density", "overview")
SELF_LAYERS = ("queries", "spatial_join", "lineage", "geotiff", "pyramid")
# spans that own a spatial join's execution: its query, or its stage
JOIN_SCOPES = ("queries.call", "lineage.stage")

PER_LAYER = (
    ["session.start_s",
     "queries.build_s", "queries.exec_s", "queries.build_share",
     "queries.build_jobs", "queries.py4j_calls"]
    + [f"build_s.{q}" for q in HEADLINE_RUN]
    + [f"exec_s.{q}" for q in HEADLINE_RUN]
    + ["spatial_join.build_s", "spatial_join.candidates",
       "spatial_join.exact_rows", "spatial_join.hit_ratio",
       "spatial_join.udf_s",
       "python.total_s", "python.boot_s", "python.init_s",
       "python.bytes_sent", "python.bytes_received", "python.rows_received",
       "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s",
       "exec.executor_cpu_s", "exec.gc_s", "exec.task_skew",
       "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes"]
    + [f"lineage.{s}_s" for s in LINEAGE_STAGES]
    + ["lineage.bytes_written",
       "geotiff.read_s", "geotiff.read_ovr_s", "geotiff.write_cog_s",
       "geotiff.decode_mb_per_s", "pyramid.build_s",
       "io.read_calls", "io.read_bytes", "io.write_calls", "io.write_bytes"]
    + [f"self_s.{layer}" for layer in SELF_LAYERS]
    + ["mem.peak_rss_mb", "trace.overhead_frac"]
)


def unit(name: str) -> str:
    """The unit of a per-layer metric, read from its name."""
    if name.endswith("_mb_per_s"):
        return "MB/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.startswith(("build_s.", "exec_s.",
                                               "self_s.")):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("_share", "_ratio", "_frac", "_skew")):
        return "ratio"
    return "count"


def per_layer(tracer, ev, steady: set[int], *, setup_s: float,
              pairs: float, bytes_written: float, decoded_bytes: float,
              io: dict, peak_rss_mb: float,
              overhead: float) -> dict[str, float]:
    """All ``PER_LAYER`` values; ``steady`` holds the iteration numbers the
    values average over, ``ev`` is the parsed event log (or None)."""
    n = max(len(steady), 1)
    spans = [s for s in tracer.spans if s["iteration"] in steady]
    by_id = {s["id"]: s for s in tracer.spans}

    def pick(name, label=None):
        return [s for s in spans if s["name"] == name
                and (label is None or s["label"] == label)]

    def secs(name, label=None):
        return sum(s["end"] - s["start"] for s in pick(name, label)) / n

    def totals(chosen):
        if ev is None or not chosen:
            return None
        ids = tracer.subtree(s["id"] for s in chosen)
        return ev.group_totals(f"pb{i}" for i in ids)

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = setup_s

    build, run = secs("queries.build"), secs("queries.exec")
    m["queries.build_s"], m["queries.exec_s"] = build, run
    m["queries.build_share"] = build / (build + run) if build + run else 0.0
    builds = pick("queries.build")
    t = totals(builds)
    m["queries.build_jobs"] = t["jobs"] / n if t else 0.0
    m["queries.py4j_calls"] = sum(s["py4j"] for s in builds) / n
    for q in HEADLINE_RUN:
        m[f"build_s.{q}"] = secs("queries.build", q)
        m[f"exec_s.{q}"] = secs("queries.exec", q)

    joins = pick("spatial_join.build")
    m["spatial_join.build_s"] = secs("spatial_join.build")
    scopes = {}
    for s in joins:
        a = s
        while a is not None and a["name"] not in JOIN_SCOPES:
            a = by_id.get(a["parent"])
        if a is not None:
            scopes[a["id"]] = a
    t = totals(list(scopes.values()))
    if t:
        m["spatial_join.candidates"] = t["join_rows"] / n
        m["spatial_join.exact_rows"] = t["py_rows"] / n
        m["spatial_join.udf_s"] = t["py_run_s"] / n
        if t["join_rows"]:
            m["spatial_join.hit_ratio"] = pairs / t["join_rows"]

    t = totals([s for s in spans if s["parent"] is None])
    if t:
        m.update({
            "python.total_s": t["py_run_s"] / n,
            "python.boot_s": t["py_boot_s"] / n,
            "python.init_s": t["py_init_s"] / n,
            "python.bytes_sent": t["py_sent"] / n,
            "python.bytes_received": t["py_recv"] / n,
            "python.rows_received": t["py_rows"] / n,
            "exec.jobs": t["jobs"] / n,
            "exec.stages": t["stages"] / n,
            "exec.tasks": t["tasks"] / n,
            "exec.executor_run_s": t["run_s"] / n,
            "exec.executor_cpu_s": t["cpu_s"] / n,
            "exec.gc_s": t["gc_s"] / n,
            "exec.task_skew": t["task_skew"],
            "shuffle.write_bytes": t["shuffle_write"] / n,
            "shuffle.read_bytes": t["shuffle_read"] / n,
            "shuffle.spill_bytes": t["spill"] / n,
        })

    for stage in LINEAGE_STAGES:
        m[f"lineage.{stage}_s"] = secs("lineage.stage", stage)
    m["lineage.bytes_written"] = bytes_written

    m["geotiff.read_s"] = secs("geotiff.read")
    m["geotiff.read_ovr_s"] = secs("geotiff.read_ovr")
    m["geotiff.write_cog_s"] = secs("geotiff.write_cog")
    m["pyramid.build_s"] = secs("pyramid.build")
    if m["geotiff.read_s"]:
        m["geotiff.decode_mb_per_s"] = (decoded_bytes / 1e6
                                        / m["geotiff.read_s"])

    m["io.read_calls"] = io["syscr"] / n
    m["io.read_bytes"] = io["rchar"] / n
    m["io.write_calls"] = io["syscw"] / n
    m["io.write_bytes"] = io["wchar"] / n

    own = tracer.self_seconds(spans)
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = own.get(layer, 0.0) / n

    m["mem.peak_rss_mb"] = peak_rss_mb
    m["trace.overhead_frac"] = overhead
    return m
