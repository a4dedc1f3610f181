#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run, one client thread.

    python3 perfbench/run.py --workload gql_read --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source on first use (sbt,
offline), generates the data set and the seeded inputs, runs the
harness in a JVM, checks every output, and prints two JSON lines: an
info line (environment, error ratio, sample counts, tracing overhead)
and, last, the result line
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer metrics and writes
spans. See README.md.
"""

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ["gql_read", "view_ingest", "batch_analytics"]
# Scale factor of the store every workload runs on (see README.md).
SF = 0.01
CORES = 4
HEAP = "3g"
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("latency_p90_ms", "ms"),
              ("throughput_ops_s", "1/s"), ("retained_mb", "MB")]


def per_layer_names():
    names = [("gql.parse_ms", "ms"), ("gql.build_ms", "ms"), ("gql.build_jobs", "count")]
    names += [(f"gql.p50_ms.{t}", "ms") for t in gen.TEMPLATES]
    names += [("spark.plan_ms", "ms"), ("spark.exec_ms", "ms"), ("spark.jobs_per_op", "count"),
              ("spark.stages_per_op", "count"), ("spark.tasks_per_op", "count"),
              ("spark.shuffle_mb_per_op", "MB"), ("spark.task_cpu_s_per_op", "s"),
              ("spark.busy_ratio", "ratio"), ("spark.sched_delay_ms", "ms"),
              ("spark.gc_s", "s"), ("spark.spill_mb", "MB")]
    names += [("graph.apply_ms", "ms"), ("graph.apply_jobs", "count"),
              ("graph.checkpoint_mb", "MB"), ("graph.retained_growth", "ratio")]
    for v in VIEWS:
        names += [(f"views.refresh_ms.{v}", "ms"), (f"views.refresh_jobs.{v}", "count"),
                  (f"views.refresh_shuffle_mb.{v}", "MB")]
    names += [("views.bootstrap_s", "s")]
    names += [("makespan_s", "s")] + [(f"job_s.{j}", "s") for j, _ in gen.JOBS]
    for j, _ in gen.JOBS:
        names += [(f"{j}.jobs", "count"), (f"{j}.shuffle_mb", "MB"),
                  (f"{j}.task_cpu_s", "s"), (f"{j}.busy_ratio", "ratio")]
    return names


VIEWS = ["building_orders", "feeds_region", "nation_flows", "nation_links"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles: decides rebuilds, and
    names the code measured when the checkout is not a git repository."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + source_digest()[:12]


def build():
    """Compile engine + harness with sbt once per source state; return
    the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            st = json.load(f)
        if st.get("digest") == digest:
            return st["classpath"]
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
                            "export harness/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        fh.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        fail(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def java_command(cp, tmp):
    """JVM and flags of graft.Bench's forked run, up to the main class."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def run_harness(cp, workload, seed, seconds, trace, data_dir, inputs, parity):
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    out = os.path.join(WORK, f"result-{workload}-{seed}-t{trace}.json")
    for f in (out, out + ".spans.jsonl"):
        if os.path.exists(f):
            os.remove(f)
    cmd = java_command(cp, tmp) + [
        "graftbench.Main", "--workload", workload, "--data", data_dir,
        "--inputs", inputs, "--seconds", str(seconds), "--trace", str(trace),
        "--work", WORK, "--out", out, "--cores", str(CORES), "--parity", str(parity)]
    log = os.path.join(WORK, f"harness-{workload}.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=150 + seconds)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out (see {log})")
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"harness failed with code {p.returncode} (see {log})")
    with open(out) as f:
        return json.load(f), out


def check(workload, res, expected, data_dir, sf):
    """Count wrong or failed operations."""
    import duckdb
    ops = res["ops"]
    bad = [o for o in ops if not o["ok"]]
    if workload == "gql_read":
        con = duckdb.connect()
        for o in ops:
            if not o["ok"]:
                continue
            tpl, _, params = expected[o["op"]]
            rows, total = con.execute(gen.oracle_sql(tpl, params, data_dir)).fetchone()
            if (o["rows"], o["sum"]) != (rows, int(total)):
                print(f"perfbench: statement {o['op']} ({tpl}) gave {o['rows']}/{o['sum']}, "
                      f"oracle {rows}/{total}", file=sys.stderr)
                bad.append(o)
        con.close()
    elif workload == "view_ingest":
        want = gen.view_oracle(data_dir, expected[:len(ops)])
        for name, rows in res["view_rows"].items():
            if sorted(map(tuple, rows)) != want[name]:
                print(f"perfbench: view {name} has {len(rows)} rows, oracle "
                      f"{len(want[name])}", file=sys.stderr)
                bad.append({"view": name})
        for name, n in res.get("view_mismatches", {}).items():
            if n:
                print(f"perfbench: view {name} differs from its MATCH in {n} rows",
                      file=sys.stderr)
                bad.append({"view": name})
    else:
        with open(os.path.join(HERE, "expected.json")) as f:
            want = json.load(f)[str(sf)]
        for o in ops:
            if o["ok"] and [o["rows"], o["sum"]] != want.get(o["kind"]):
                print(f"perfbench: job {o['kind']} gave {o['rows']}/{o['sum']}, "
                      f"expected {want.get(o['kind'])}", file=sys.stderr)
                bad.append(o)
    return min(len(bad), len(ops))


def end_to_end(res):
    ops = res["ops"]
    lat = [o["ms"] for o in ops]
    units = sum(o["units"] for o in ops)
    return {
        "setup_s": res["setup_s"],
        "latency_p50_ms": statistics.median(lat),
        "latency_p90_ms": percentile(lat, 90),
        "throughput_ops_s": units / res["window_s"],
        "retained_mb": res["retained_mb"],
    }


def per_layer(workload, res):
    m = {name: 0.0 for name, _ in per_layer_names()}
    ops = res["ops"]
    for k, v in res.get("spark", {}).items():
        m[f"spark.{k}"] = v
    for k, v in res.get("gql", {}).items():
        m[f"gql.{k}"] = v
    if workload == "gql_read":
        for t in gen.TEMPLATES:
            xs = [o["ms"] for o in ops if o["kind"] == t]
            m[f"gql.p50_ms.{t}"] = statistics.median(xs) if xs else 0.0
    for k, v in res.get("graph", {}).items():
        m[f"graph.{k}"] = v
    for k, v in res.get("views", {}).items():
        m[f"views.{k}"] = v
    if workload == "view_ingest":
        m["views.bootstrap_s"] = res["views_bootstrap_s"]
        m["graph.retained_growth"] = res["retained_growth"]
    if workload == "batch_analytics":
        n = len(gen.JOBS)
        passes = [sum(o["ms"] for o in ops[i:i + n]) / 1e3 for i in range(0, len(ops) - n + 1, n)]
        m["makespan_s"] = statistics.median(passes)
        for j, _ in gen.JOBS:
            m[f"job_s.{j}"] = statistics.median([o["ms"] / 1e3 for o in ops if o["kind"] == j])
        for k, v in res.get("jobs", {}).items():
            m[k] = v
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=SF, help="store scale factor")
    ap.add_argument("--parity", type=int, choices=[0, 1], default=0,
                    help="view_ingest: also check views against GqlExecutor")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources at {ROOT}: run from a checkout of the repository")
    cp = build()
    data_dir = os.path.join(WORK, "data", f"sf{a.sf}")
    gen.make_data(data_dir, a.sf)
    lines, expected = gen.make_inputs(a.workload, a.seed, data_dir, a.sf)
    inputs = os.path.join(WORK, f"inputs-{a.workload}-{a.seed}.tsv")
    with open(inputs, "w") as f:
        f.write("\n".join(lines) + "\n")
    res, out = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, data_dir, inputs,
                           a.parity)
    failed = check(a.workload, res, expected, data_dir, a.sf)
    attempted = len(res["ops"])
    e2e = end_to_end(res)
    units = dict(END_TO_END)
    info = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "sf": a.sf,
        "ops": attempted, "error_ratio": failed / attempted,
        "env": dict(res["env"], nproc=os.cpu_count(), commit=commit(),
                    python=platform.python_version()),
    }
    last = os.path.join(WORK, f"e2e-{a.workload}-{a.seed}.json")
    if a.trace == 0:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        with open(last, "w") as f:
            json.dump(e2e, f)
    else:
        layer = per_layer(a.workload, res)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in per_layer_names()}
        info["spans"] = os.path.relpath(out + ".spans.jsonl", ROOT)
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            info["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e}
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
