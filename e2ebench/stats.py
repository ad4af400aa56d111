"""Arithmetic of the benchmark: the tail-percentile rule, span self time,
and the per-layer metrics of a traced run."""
import statistics

MIN_BEYOND = 10          # samples a reported percentile must have above it


def tail_percentile(samples, want=90):
    """(pct, value): the highest whole percentile <= `want` with at least
    MIN_BEYOND samples beyond it (nearest-rank), or None when even the
    1st percentile lacks them."""
    xs = sorted(samples)
    n = len(xs)
    for pct in range(want, 0, -1):
        k = -(-pct * n // 100)            # nearest rank: ceil(pct * n / 100)
        if k >= 1 and n - k >= MIN_BEYOND:
            return pct, xs[k - 1]
    return None


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the part of it covered by its children};
    overlapping children count once, and children are clipped to the parent."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length([(max(c["start_ms"], lo), min(c["end_ms"], hi))
                                for c in kids.get(s["id"], []) if c["end_ms"] > lo and c["start_ms"] < hi])
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_kind(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["kind"]] = out.get(s["kind"], 0.0) + st[s["id"]] / 1e3
    return out


def _sum(xs):
    return float(sum(xs))


def per_layer(spans, ops, counters, cores):
    """Per-layer metrics of the traced section (sums per run)."""
    spans = [s for s in spans if s["end_ms"] == s["end_ms"]]   # drop unfinished (NaN) spans
    kind = lambda k: [s for s in spans if s["kind"] == k]
    op_spans, jobs, stages = kind("op"), kind("job"), kind("stage")
    ms = lambda ss: _sum(s["end_ms"] - s["start_ms"] for s in ss) / 1e3
    attr = lambda ss, k: _sum(s.get(k, 0) for s in ss)
    traced = [o for o in ops if o["section"] == "traced"]
    lat = lambda k: _sum(o["lat_s"] for o in traced if o["kind"] == k)
    wall = counters["traced.wall_s"]
    untraced_rate = counters["after.ops"] / counters["after.wall_s"]
    traced_rate = counters["traced.ops"] / wall
    rows_out = attr(op_spans, "rows_out")
    rows_read = attr(stages, "input_rows")
    m = {
        "engine.session_start_s": statistics.median(counters["session_start_s"]),
        "sqlfrontend.s": ms(kind("sqlfrontend")),
        "construct.s": ms(kind("construct")),
        "construct.jobs": float(sum(1 for j in jobs if j.get("phase") == "construct")),
        "catalyst.analysis_s": attr(op_spans, "catalyst_analysis"),
        "catalyst.optimization_s": attr(op_spans, "catalyst_optimization"),
        "catalyst.planning_s": attr(op_spans, "catalyst_planning"),
        "plan.exchanges": attr(op_spans, "exchanges"),
        "plan.smj": attr(op_spans, "smj"),
        "plan.bhj": attr(op_spans, "bhj"),
        "codegen.compiles": float(counters["traced.codegen_compiles"]),
        "codegen.compile_s": counters["traced.codegen_compile_s"],
        "exec.s": union_length([(j["start_ms"], j["end_ms"]) for j in jobs]) / 1e3,
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(len(stages)),
        "exec.tasks": attr(stages, "tasks"),
        "exec.task_run_s": attr(stages, "task_run_ms") / 1e3,
        "exec.task_cpu_s": attr(stages, "task_cpu_ns") / 1e9,
        "exec.task_wait_s": attr(stages, "task_wait_ms") / 1e3,
        "exec.cpu_util": attr(stages, "task_cpu_ns") / 1e9 / (wall * cores),
        "exec.shuffle_write_bytes": attr(stages, "shuffle_write_bytes"),
        "exec.shuffle_read_bytes": attr(stages, "shuffle_read_bytes"),
        "exec.spill_bytes": attr(stages, "spill_bytes"),
        "scan.files": attr(op_spans, "scan_files"),
        "scan.bytes_read": attr(stages, "input_bytes"),
        "scan.rows_read": rows_read,
        "scan.rows_read_per_row_out": rows_read / rows_out if rows_out else 0.0,
        "lake.append_s": lat("append"),
        "lake.merge_s": lat("merge"),
        "lake.delete_s": lat("delete"),
        "lake.compact_s": lat("compact"),
        "lake.read_full_s": lat("read_full"),
        "lake.read_pruned_s": lat("read_pruned"),
        "lake.read_dsv2_s": lat("read_dsv2"),
        "lake.read_diff_s": lat("read_diff"),
        "jvm.gc_s": counters["traced.gc_s"],
        "host.probe_s": counters["traced.probe_s"],
        "trace.overhead_frac": 1.0 - traced_rate / untraced_rate,
    }
    m.update(lake_layer(counters, traced))
    return m


def lake_layer(counters, ops):
    """Lake size and shape figures (zero on workloads without a lake)."""
    if "lake.live_bytes" not in counters:
        return {k: 0.0 for k in ("lake.commit_p50_s", "lake.bytes_per_live_byte",
                                 "lake.bytes_written_per_user_byte", "lake.manifest_bytes",
                                 "lake.files_kept_frac", "lake.delete_files_live")}
    live_b, live_rows = counters["lake.live_bytes"], counters["lake.live_rows"]
    user_b = counters["lake.user_rows"] * live_b / live_rows
    commits = [o["lat_s"] for o in ops if o["kind"] in ("append", "merge", "delete", "compact")]
    mean = lambda xs: statistics.fmean(xs) if xs else 0.0
    return {
        "lake.commit_p50_s": statistics.median(commits) if commits else 0.0,
        "lake.bytes_per_live_byte": counters["lake.root_bytes"] / live_b,
        "lake.bytes_written_per_user_byte": counters["lake.bytes_written"] / user_b if user_b else 0.0,
        "lake.manifest_bytes": float(counters["lake.manifest_bytes"]),
        "lake.files_kept_frac": mean(counters["lake.files_kept_frac"]),
        "lake.delete_files_live": mean(counters["lake.delete_files_at_read"]),
    }
