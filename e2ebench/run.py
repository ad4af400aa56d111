"""End-to-end benchmark of the graft engine: one Spark session at
local[nproc], one closed-loop client, three workloads.

    python3 e2ebench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the program (e2ebench/build.py),
generates the seeded inputs, runs the JVM side (e2ebench/scala), checks
every op's output, and prints one metric per line followed by a final
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the run measures an
untraced and then a traced section and reports the per-layer metrics of
the traced one. See e2ebench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import plans  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["dashboard", "batch_x10", "lake_ingest"]
DASHBOARD_SF = 0.1         # 600 k lineitem rows, ~17 MB of parquet
BATCH_BASE_SF, BATCH_COPIES = 0.001, 10
LAKE_SF = 0.1              # the table starts from 100 k events
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def inputs_digest():
    h = hashlib.sha256(repr((DASHBOARD_SF, BATCH_BASE_SF, BATCH_COPIES, LAKE_SF)).encode())
    for f in ("gen.py", "plans.py", "lake_model.py"):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def make_inputs(workload, seed, work):
    """Generate (or reuse) the seeded fixture and plan; returns (data dir, plan path)."""
    d = os.path.join(work, "inputs", f"{workload}-{seed}-{inputs_digest()}")
    data, plan_path = os.path.join(d, "data"), os.path.join(d, "plan.jsonl")
    if not os.path.exists(plan_path):
        stale = f"{workload}-{seed}-"
        if os.path.isdir(os.path.dirname(d)):
            for old in os.listdir(os.path.dirname(d)):
                if old.startswith(stale):
                    shutil.rmtree(os.path.join(os.path.dirname(d), old))
        os.makedirs(data)
        t0 = time.time()
        if workload == "dashboard":
            gen.write(gen.star(seed, DASHBOARD_SF), data)
            ops = plans.dashboard(seed)
        elif workload == "batch_x10":
            gen.write(gen.replicate(gen.star(seed, BATCH_BASE_SF), BATCH_COPIES), data, parts=8)
            ops = plans.batch(seed)
        else:
            events = gen.star(seed, LAKE_SF)["events"]
            ops = plans.lake(seed, events, data)
        with open(plan_path + ".tmp", "w") as f:
            f.writelines(json.dumps(op) + "\n" for op in ops)
        os.rename(plan_path + ".tmp", plan_path)
        log(f"inputs: generated {workload} seed {seed} in {time.time() - t0:.1f} s")
    return data, plan_path


def input_properties(workload, data, ops, counters, cores):
    props = {"nproc": cores, "jvm": counters["jvm_version"], "spark": counters["spark_version"]}
    if workload == "lake_ingest":
        props["base_rows"] = pq.ParquetFile(os.path.join(data, "base.parquet")).metadata.num_rows
        props["delete_files_per_read"] = round(statistics.fmean(
            counters["lake.delete_files_at_read"] or [0]), 3)
        props["compaction"] = f"clustered by event_id into {counters['lake.compact_files']} files " \
                              f"every {plans.COMPACT_EVERY} commits, then vacuum keeping the version before it"
        props["commit_rows"] = {"append": plans.APPEND_ROWS, "merge": plans.MERGE_ROWS,
                                "delete": plans.DELETE_ROWS}
        return props
    sizes, rows = {}, {}
    for t in check.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        files = [os.path.join(p, f) for f in os.listdir(p)] if os.path.isdir(p) else [p]
        sizes[t] = sum(os.path.getsize(f) for f in files)
        rows[t] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    props["parquet_bytes"] = sum(sizes.values())
    props["rows"] = rows
    if workload == "dashboard":
        seen, repeats = set(), 0
        for o in ops:
            repeats += o["key"] in seen
            seen.add(o["key"])
        props["repeat_share"] = round(repeats / max(1, len(ops)), 4)
    return props


def run_jvm(args, data, plan_path, out, work, cores, deadline):
    classes_cp = build.classpath()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no perf-data file in the system temp dir: a run writes only under its checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes_cp, "e2ebench.Main", "--workload", args.workload, "--data", data,
            "--plan", plan_path, "--out", out, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores), "--work", work]
    jvm_log = os.path.join(out, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)

        def stop(signum, frame):        # never leave the JVM behind
            p.kill()
            p.wait()
            raise SystemExit(f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(jvm_log) as lf:
            tail = lf.readlines()[-40:]
        log("".join(tail))
        raise SystemExit(f"JVM run failed ({rc}); log: {jvm_log}")


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    root = os.path.dirname(HERE)
    work = os.path.join(root, ".bench_build", "e2ebench", "work")
    built_before = os.path.exists(os.path.join(build.BUILD_DIR, "stamp"))
    build.build()
    budget = 170 if built_before else 880
    cores = len(os.sched_getaffinity(0))
    data, plan_path = make_inputs(args.workload, args.seed, work)
    out = os.path.join(work, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for d in ("lake", "spark-local"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    log(f"phase: inputs ready at {time.time() - t_start:.1f} s")
    run_jvm(args, data, plan_path, out, work, cores, t_start + budget - 25)
    log(f"phase: JVM done at {time.time() - t_start:.1f} s")

    plan = {}
    for i, op in enumerate(o for o in read_jsonl(plan_path) if not o.get("warmup")):
        plan[i] = op
    ops = read_jsonl(os.path.join(out, "ops.jsonl"))
    with open(os.path.join(out, "counters.json")) as f:
        counters = json.load(f)

    # -- checks (outside timing) --
    oracle = check.Oracle(data, os.path.join(os.path.dirname(data), "oracle.json"))
    fileview = check.fileview_expected(data) if args.workload == "dashboard" else None
    failures = []
    for op in ops:
        planned = plan[op["i"]]
        if op["error"]:
            why = op["error"]
        elif args.workload == "lake_ingest":
            why = check.check_lake(op, planned)
        else:
            why = check.check_rows(dict(op, sql=planned.get("sql")), oracle,
                                   counters["oracle_sql"], fileview)
        if why:
            failures.append((op["i"], op["name"], why))
    oracle.save()
    log(f"phase: checks done at {time.time() - t_start:.1f} s")
    for i, name, why in failures[:10]:
        log(f"WRONG op {i} {name}: {why}")

    untraced = [o for o in ops if o["section"] == "untraced"]
    lats = [o["lat_s"] for o in untraced]
    reads = [o["lat_s"] for o in untraced if args.workload != "lake_ingest" or o["kind"].startswith("read")]
    tail = stats.tail_percentile(lats)
    props = input_properties(args.workload, data, [plan[o["i"]] for o in untraced], counters, cores)
    # latencies of a round's 8-22 ops: recorded, not bounded (see README)
    props["ops"] = len(untraced)
    props["op_p50_s"] = round(statistics.median(lats), 6)
    props["read_p50_s"] = round(statistics.median(reads), 6)
    props["op_tail"] = {"percentile": tail[0], "s": round(tail[1], 6)} if tail else None
    props["ops_failed_frac"] = len(failures) / max(1, len(ops))
    props["setup_samples_s"] = [round(x, 4) for x in counters["setup_s"]]
    props["peak_rss_mb"] = round(counters["peak_rss_mb"], 1)
    if args.workload == "lake_ingest":
        lake = stats.lake_layer(counters, untraced)
        props["commit_p50_s"] = round(lake["lake.commit_p50_s"], 6)
        props["lake_bytes_per_live_byte"] = round(lake["lake.bytes_per_live_byte"], 6)

    if args.trace:
        spans = read_jsonl(os.path.join(out, "spans.jsonl"))
        values = stats.per_layer(spans, ops, counters, cores)
        for k, v in sorted(stats.self_time_by_kind(spans).items()):
            print(f"self time {k}: {v:.4f} s")
        print(f"tracing overhead: {values['trace.overhead_frac']:.4f} of untraced ops_per_s "
              f"({counters['after.ops'] / counters['after.wall_s']:.4f} untraced round after it, "
              f"{counters['traced.ops'] / counters['traced.wall_s']:.4f} traced)")
    else:
        values = {
            "setup_s": statistics.median(counters["setup_s"]),
            "ops_per_s": counters["untraced.ops"] / counters["untraced.wall_s"],
        }
    # names and units as BENCHMARK.json declares them
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    assert {m["name"] for m in declared} == set(values), "metrics differ from BENCHMARK.json"
    metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in declared}
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(ops)} ops, {len(failures)} wrong")
    print("inputs " + json.dumps(props))
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    result = {"correct": not failures, "attempted": len(ops), "failed": len(failures),
              "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()}}
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(dict(result, inputs=props), f, indent=1)
    print(json.dumps(result))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
