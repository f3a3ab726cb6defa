#!/usr/bin/env python3
"""graft benchmark: one closed-loop client running graft queries in one JVM.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload price_pipeline --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --pin          # re-pin the expected digests

Each run builds the program and the harness from source when they
changed (sbt, in perfbench/), copies its input tables into
perfbench/work/data, starts one JVM (perfbench.Harness) and prints, as
its last line, one JSON object: `correct`, `attempted`, `failed` and
`metrics`. With `--trace 0` the metrics are the end-to-end ones, with
`--trace 1` the per-layer ones; the line before it is a record of the run
(failures, co-tenancy, span self times). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
TESTDATA = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
RUN_LIMIT_S = 170  # the harness JVM is stopped after this long

# name -> (input data set, model map trained in set-up, nominal seconds
# of one warm pass on 4 cores, queries). A run measures
# max(2, round(--seconds / nominal)) passes after the first one: a count
# fixed by the arguments, so every run stops at the same point of the
# JVM's warm-up, and measures for about --seconds on 4 cores.
WORKLOADS = {
    "price_pipeline": ("sf0.001", True, 6.2, [
        "q_price_candidates", "q_char_grams", "q_tfidf_topk", "q_gbt_train_eval",
        "q_stream_pipe", "q_stream_stateful", "q_stream_funnel"]),
    "graph_iterative": ("sf0.01", False, 9.0, [
        "q_kcore", "q_cluster_profile_approx"]),
}
# queries whose counters must repeat exactly between two passes
COUNTER_QUERIES = {"sf0.01": ["q_price_candidates", "q_kcore", "q_dom_analysis"]}
COUNTERS = ["jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "records_read"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the classpath."""
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = _source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log("building program and harness (sbt)")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=800)
    with open(os.path.join(WORK, "build.log"), "w") as f:
        f.write(out.stdout + out.stderr)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        raise SystemExit(f"build failed (see {os.path.relpath(WORK, ROOT)}/build.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------- inputs

def dataset(name):
    """Copies a read-only test data set into the work dir, once."""
    dst = os.path.join(WORK, "data", name)
    done = os.path.join(dst, ".complete")
    if not os.path.exists(done):
        src = os.path.join(TESTDATA, name)
        if not os.path.isdir(src):
            raise SystemExit(f"input data set {name} not found under {TESTDATA}")
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)  # copy2 keeps mtimes, which the model map keys on
        open(done, "w").close()
    return dst


# ---------------------------------------------------------------- host context

def host_sample():
    """loadavg fields and the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/loadavg") as f:
            load = f.read().split()[:4]
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return {"loadavg": None, "cpu": None}
    return {"loadavg": " ".join(load), "cpu": cpu}


def steal_ratio(a, b):
    if not a["cpu"] or not b["cpu"]:
        return None
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def other_graft_jvms(own):
    """Other java processes running graft code: they may share the
    /tmp/graft_stream_* and /tmp/graft_table_sink dirs, which the program
    keys by data dir only."""
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) in own:
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and "graft" in cmd:
            pids.append(int(p))
    return pids


# ---------------------------------------------------------------- harness

def java_cmd(cp, args):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opts + [
        "-Xms4g", "-Xmx4g", "-Xmn768m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
        "-cp", cp, "perfbench.Harness"] + args)


def harness(cp, args, deadline, tag):
    """Runs one harness JVM and returns its record (None on failure)."""
    out = os.path.join(WORK, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    cmd = java_cmd(cp, args + ["--out", out, "--spawn-ns", str(time.time_ns())])
    with open(os.path.join(WORK, f"{tag}.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            log(f"{tag}: harness exceeded the run limit and was stopped")
            return None
    if rc != 0 or not os.path.exists(out):
        log(f"{tag}: harness exited with {rc}; see {os.path.relpath(WORK, ROOT)}/{tag}.log")
        return None
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def load_expected():
    path = os.path.join(BENCH, "expected.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def failures(execs, expected):
    """One entry per failed execution: query name, error class and the
    time to failure. A result whose row count or digest differs from
    the pinned one fails as DigestMismatch."""
    out = []
    for e in execs:
        pin = expected.get(e["name"])
        if not e["ok"]:
            cls, msg = e.get("error_class", "Error"), e.get("error", "")
        elif pin is None:
            cls, msg = "NoPinnedDigest", "no pinned digest for this query"
        elif (pin["rows"], pin["digest"]) != (e["rows"], e["digest"]):
            cls = "DigestMismatch"
            msg = f"rows {e['rows']} digest {e['digest']}, pinned {pin['rows']} {pin['digest']}"
        else:
            continue
        out.append({"query": e["name"], "pass": e["pass"], "error_class": cls,
                    "time_to_failure_s": e["wall_s"], "message": msg})
    return out


def end_to_end(rec):
    measured = [p for p in rec["passes"] if p["pass"] > 0 and not p["traced"]]
    keep = {p["pass"] for p in measured}
    per_query = {}
    for e in rec["execs"]:
        if e["pass"] in keep:
            per_query.setdefault(e["name"], []).append(e["wall_s"])
    return {
        "setup_s": (rec["setup"]["setup_s"], "s"),
        "wall_s": (median([p["wall_s"] for p in measured]), "s"),
        # median over queries of each query's median over the passes
        "query_p50_s": (median([median(v) for v in per_query.values()]), "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }


def pass_layers(execs, wall, cores):
    """Per-layer sums over one traced pass."""
    def tot(k):
        return sum(e.get(k, 0) for e in execs)
    streams = [e for e in execs if e.get("stream")]

    def st(k):
        return sum(e["stream"][k] for e in streams)
    stages_in_jobs = tot("stages_in_jobs")
    tasks = tot("tasks")
    mb = 1048576.0
    return {
        "streaming.batches": (st("batches"), "count"),
        "streaming.trigger_s": (st("trigger_s"), "s"),
        "streaming.add_batch_s": (st("add_batch_s"), "s"),
        "streaming.planning_s": (st("planning_s"), "s"),
        "streaming.offsets_s": (st("offsets_s"), "s"),
        "streaming.commit_s": (st("commit_s"), "s"),
        "streaming.overhead_s": (sum(e["wall_s"] - e["stream"]["add_batch_s"] for e in streams), "s"),
        "streaming.state_rows": (st("state_rows"), "count"),
        "streaming.state_mb": (st("state_mb"), "MB"),
        "operators.build_s": (tot("build_s"), "s"),
        "operators.plan_s": (tot("plan_s"), "s"),
        "operators.execute_s": (tot("execute_s"), "s"),
        "operators.jobs": (tot("jobs"), "count"),
        "operators.stages": (tot("stages"), "count"),
        "operators.tasks": (tasks, "count"),
        "operators.no_job_s": (tot("no_job_s"), "s"),
        "operators.stage_reuse_ratio": (
            (stages_in_jobs - tot("stages")) / stages_in_jobs if stages_in_jobs else 0.0, "ratio"),
        "operators.empty_task_ratio": (tot("empty_tasks") / tasks if tasks else 0.0, "ratio"),
        "operators.task_s": (tot("task_s"), "s"),
        "operators.task_cpu_s": (tot("task_cpu_s"), "s"),
        "operators.gc_s": (tot("gc_s"), "s"),
        "operators.core_busy_ratio": (tot("task_s") / (wall * cores) if wall else 0.0, "ratio"),
        "operators.shuffle_write_mb": (tot("shuffle_write_bytes") / mb, "MB"),
        "operators.shuffle_read_mb": (tot("shuffle_read_bytes") / mb, "MB"),
        "operators.shuffle_fetch_wait_s": (tot("shuffle_fetch_wait_s"), "s"),
        "operators.spill_mb": (tot("spill_bytes") / mb, "MB"),
        "sources.records_read": (tot("records_read"), "count"),
        "sources.read_mb": (tot("read_bytes") / mb, "MB"),
    }


def per_layer(rec):
    traced = [p for p in rec["passes"] if p["traced"]]
    untraced = [p for p in rec["passes"] if p["pass"] > 0 and not p["traced"]]
    per_pass = [pass_layers([e for e in rec["execs"] if e["pass"] == p["pass"]],
                            p["wall_s"], rec["cores"]) for p in traced]
    out = {k: (median([pp[k][0] for pp in per_pass]), per_pass[0][k][1]) for k in per_pass[0]}
    s = rec["setup"]
    for k in ("Sessions.session_s", "Sessions.warmup_s", "ml.train_s", "ml.load_s"):
        out[k] = (s[k], "s")
    for k, v in rec["micro"].items():
        out[k] = (v, "us" if k.endswith("_us") or k.endswith("_us_per_page") else "ns")
    out["first_pass_s"] = (rec["passes"][0]["wall_s"], "s")
    traced_wall = median([p["wall_s"] for p in traced])
    out["trace.wall_s"] = (traced_wall, "s")
    out["trace.overhead_ratio"] = (
        traced_wall / median([p["wall_s"] for p in untraced]) if untraced else 0.0, "ratio")
    return out


# ---------------------------------------------------------------- main

def run(args):
    data, model, nominal, queries = WORKLOADS[args.workload]
    passes = max(2, round(args.seconds / nominal))
    if args.trace:
        passes = max(4, passes)  # two traced and two untraced passes at least
    t_start = time.time()
    cp = build()
    data_dir = dataset(data)
    deadline = time.time() + RUN_LIMIT_S
    own = {os.getpid()}
    before, others_before = host_sample(), other_graft_jvms(own)
    hargs = ["--data", data_dir, "--queries", ",".join(queries),
             "--seed", str(args.seed), "--passes", str(passes),
             "--model", "1" if model else "0",
             "--trace", str(args.trace),
             "--spans", os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")]
    rec = harness(cp, hargs, deadline, f"run-{args.workload}")
    after, others_after = host_sample(), other_graft_jvms(own)
    if rec is None:
        return 1
    fails = failures(rec["execs"], load_expected().get(data, {}))
    attempted = len(rec["execs"])
    metrics = per_layer(rec) if args.trace else end_to_end(rec)
    record = {
        "record": "perfbench_run", "workload": args.workload, "seed": args.seed,
        "data": data, "queries": queries, "passes": len(rec["passes"]),
        "first_pass_s": rec["passes"][0]["wall_s"],
        "failed_ratio": len(fails) / attempted, "failures": fails,
        "loadavg_start": before["loadavg"], "loadavg_end": after["loadavg"],
        "steal_ratio": steal_ratio(before, after),
        "shared_tmp": bool(others_before or others_after),
        "other_graft_jvms": sorted(set(others_before + others_after)),
        "span_self_s": rec.get("span_self_s"),
        "run_s": time.time() - t_start,
    }
    print(json.dumps(record))
    print(json.dumps({
        "correct": not fails, "attempted": attempted, "failed": len(fails),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


def pin():
    """Runs every workload's queries (and the counter-test queries) for
    two passes, checks both passes agree and writes expected.json."""
    cp = build()
    per_data = {}
    for data, _, _, queries in WORKLOADS.values():
        per_data.setdefault(data, set()).update(queries)
    for data, queries in COUNTER_QUERIES.items():
        per_data.setdefault(data, set()).update(queries)
    expected = {}
    for data, queries in sorted(per_data.items()):
        model = any(m for d, m, _, _ in WORKLOADS.values() if d == data)
        rec = harness(cp, ["--data", dataset(data),
                           "--queries", ",".join(sorted(queries)), "--seed", "0",
                           "--passes", "1", "--trace", "0",
                           "--model", "1" if model else "0"],
                      time.time() + 1800, f"pin-{data}")
        if rec is None:
            return 1
        got = {}
        for e in rec["execs"]:
            if not e["ok"]:
                raise SystemExit(f"{e['name']} failed while pinning: {e.get('error')}")
            v = {"rows": e["rows"], "digest": e["digest"]}
            if got.setdefault(e["name"], v) != v:
                raise SystemExit(f"{e['name']}: digest differs between passes")
        expected[data] = dict(sorted(got.items()))
    with open(os.path.join(BENCH, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)
        f.write("\n")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        log("program sources not found next to perfbench/; run from a full checkout")
        return 2
    if args.pin:
        return pin()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
