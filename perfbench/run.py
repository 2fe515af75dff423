#!/usr/bin/env python3
"""Benchmark of the graft engine: three closed-loop workloads, each in its own
JVM on local[nproc], timed over steady rounds after untimed warm-up rounds.

  python3 perfbench/run.py --workload dashboard --seed 1 --seconds 8 --trace 0
  python3 perfbench/run.py --workload all

The first run in a checkout compiles the program and the workload drivers
with sbt; later runs reuse the build while the sources are unchanged. Every
output is checked against an independent computation (the DuckDB oracle of
SparkEntry.oracleSql on the same input files, or a property the method must
have). The last line of stdout is one JSON object: correct, attempted,
failed and metrics — the end-to-end metrics with --trace 0, the per-layer
metrics of Spark's listeners with --trace 1. See README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")

# The generated test tables (TESTDATA.md) that graft.Bench reads too, in
# testdata/ under the home directory unless GRAFT_TESTDATA names another root.
TESTDATA = os.environ.get("GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))
WORKLOADS = {
    # name: (shipped scale the inputs come from, rewrite for many row groups)
    "dashboard": ("sf0.01", False),
    "etl_kafka": ("sf0.001", True),
}
ETL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"]
ETL_ROW_GROUP = 500

# Step-type medians of etl_kafka, in the order of a round.
ETL_STEPS = [("fresh_load", "pipeline.fresh_load_s"), ("rerun", "pipeline.rerun_s"),
             ("publish", "streaming.publish_s")]
# A fixed, pre-touched heap makes the heap's share of peak RSS constant, so
# peak_rss_mb moves with what lives outside it (threads, metaspace, code).
HEAP = "1g"
# A run after the build must end within 180 s; a build within 900 s less that.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    """Digest of every file the build reads, by path, size and mtime."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile once per source state; returns (classpath, java options)."""
    stamp_file = os.path.join(BUILD, "stamp.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"], cached["java_options"]
    if not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("perfbench: no program sources next to the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    log("building the program and the benchmark with sbt")
    t0 = time.monotonic()
    # sbt starts its own JVM: run it in a session of its own so a timeout
    # ends the whole group
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath", "show javaOptions"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: build ran past the time limit")
    out = stdout.splitlines()
    classpath = [ln for ln in out if not ln.startswith("[")]
    java_options = [ln[len("[info] * "):] for ln in out if ln.startswith("[info] * ")]
    if proc.returncode != 0 or len(classpath) != 1 or not java_options:
        sys.stderr.write(stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = classpath[0]
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath,
                   "java_options": java_options}, f)
    log(f"built in {time.monotonic() - t0:.1f} s")
    return classpath, java_options


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, work):
    """Inputs of one run: the shipped tables, or for etl_kafka the same rows
    in a seed-chosen order, rewritten with many row groups."""
    scale, rewrite = WORKLOADS[workload]
    src = os.path.join(TESTDATA, scale)
    if not os.path.isdir(src):
        raise SystemExit(f"perfbench: test tables not found at {src}")
    if not rewrite:
        return src
    import pyarrow.parquet as pq
    dst = os.path.join(work, "input")
    os.makedirs(dst)
    rng = random.Random(seed)
    for t in ETL_TABLES:
        table = pq.read_table(os.path.join(src, f"{t}.parquet"))
        order = list(range(table.num_rows))
        rng.shuffle(order)
        pq.write_table(table.take(order), os.path.join(dst, f"{t}.parquet"),
                       row_group_size=ETL_ROW_GROUP)
    return dst


# ---------------------------------------------------------------- JVM

class Host:
    """Host context over a run: steal share and mean 1-min loadavg."""

    def __init__(self):
        self.stat0 = self._read("/proc/stat")
        self.loads = []

    @staticmethod
    def _read(path):
        with open(path) as f:
            return f.read()

    def sample(self):
        self.loads.append(float(self._read("/proc/loadavg").split()[0]))

    def summary(self):
        steal = stats.steal_share(self.stat0, self._read("/proc/stat"))
        load = sum(self.loads) / len(self.loads) if self.loads else None
        return {"steal_share": round(steal, 5), "loadavg1_mean": load}


def run_jvm(classpath, java_options, args, work, log_name, deadline, host):
    opts = [o for o in java_options if not o.startswith(("-Xmx", "-Xms"))]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = (["java"] + opts + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
                              "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main"] + args)
    with open(os.path.join(work, log_name), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            while proc.poll() is None:
                if time.monotonic() > deadline:
                    proc.kill()
                    proc.wait()
                    raise SystemExit(f"perfbench: {log_name} ran past the time limit")
                host.sample()
                time.sleep(0.5)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        with open(os.path.join(work, log_name)) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: {log_name} exited with {proc.returncode}")


# ---------------------------------------------------------------- checks

def duck(data):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def frames_equal(got, want):
    """The comparison tools/selfcheck.py makes: same columns, same rows as a
    multiset, values equal with NULL equal to NULL."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    g = got[gc].sort_values(gc).reset_index(drop=True)
    w = want[wc].sort_values(wc).reset_index(drop=True)
    for c in gc:
        a, b = g[c], w[c]
        try:
            same = (a.fillna("__null__") == b.fillna("__null__")).all() \
                if a.dtype == object else ((a == b) | (a.isna() & b.isna())).all()
        except Exception:
            same = list(a) == list(b)
        if not same:
            return f"value mismatch in {c}"
    return None


def check_output(con, name, got, oracles):
    """None if the output is right, else why not."""
    if name == "rerun.changed":
        # a re-run appends no fact row and rewrites no dimension id
        bad = got[(got["appended"] != 0) | (got["rewritten"] != 0)]
        return None if bad.empty else f"rerun changed {bad.to_dict('records')}"
    return frames_equal(got, con.sql(oracles[name]).df())


def verify(result, data):
    """Oracle-check every round-0 output. Returns {output: reason} of the
    outputs that are wrong."""
    con = duck(data)
    wrong = {}
    outputs = sorted({o for s in result["samples"] for o in s["outputs"]})
    for name in outputs:
        path = os.path.join(result["dumps"], name)
        try:
            got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
            why = check_output(con, name, got, result["oracles"])
        except Exception as e:  # an oracle or dump that cannot be read is a failed check
            why = f"check error: {e}"
        if why:
            wrong[name] = why
    return wrong


# ---------------------------------------------------------------- one run

def run(workload, seed, seconds, trace):
    t_start = time.monotonic()
    classpath, java_options = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = make_inputs(workload, seed, work)
    host = Host()
    base = ["--workload", workload, "--data", data, "--scratch", work, "--seed", str(seed)]

    out = os.path.join(work, "samples.json")
    run_jvm(classpath, java_options,
            base + ["--seconds", str(seconds), "--trace", str(trace), "--out", out],
            work, "jvm.log", deadline, host)
    with open(out) as f:
        result = json.load(f)

    wrong = verify(result, data)
    samples = result["samples"]
    steady = [s for s in samples if s["round"] >= result["warmup_rounds"]]
    failed = sum(1 for s in samples
                 if s["error"] or s["mismatch"] or any(o in wrong for o in s["outputs"]))
    correct = not wrong and not any(s["mismatch"] for s in samples)
    for s in samples:
        if s["error"] or s["mismatch"]:
            log(f"{s['name']} round {s['round']}: {s['error'] or s['mismatch']}")
    for name, why in wrong.items():
        log(f"output {name} is wrong: {why}")

    walls = [s["wall_s"] for s in steady]
    by_kind = {k: [s["wall_s"] for s in steady if s["kind"] == k] for k, _ in ETL_STEPS}
    rounds = result["rounds"]
    detail = {
        "round_s": stats.median([r["wall_s"] for r in rounds]),
        "op_p50_s": stats.median(walls),
        "op_p90_s": stats.tail(walls),
        "setup_wall_s": result["setup_s"],
        "op_samples": len(walls),
        "rounds": len(rounds),
        **{name: stats.median(by_kind[k]) for k, name in ETL_STEPS if by_kind[k]},
    }
    context = {"workload": workload, "seed": seed, "trace": trace,
               "nproc": result["nproc"], "cold_round_s": result["cold_round_s"],
               "session_s": result["session_s"], "wall_s": time.monotonic() - t_start,
               **host.summary()}

    if trace:
        values = {n: stats.median([r["layers"][n] for r in rounds]) for n in rounds[0]["layers"]}
        for k, name in ETL_STEPS:
            values[name] = stats.median(by_kind[k]) if by_kind[k] else 0.0
    else:
        values = {
            "setup_s": result["setup_cpu_s"],
            "cpu_s": stats.median([r["cpu_s"] for r in rounds]),
            "peak_rss_mb": result["peak_rss_mb"],
        }
    metrics = {n: {"value": v, "unit": unit_of(n)} for n, v in values.items()}

    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump({"context": context, "detail": detail, "metrics": metrics}, f, indent=1)
    log("context " + json.dumps(context))
    log("detail " + json.dumps(detail))
    return {"correct": correct, "attempted": len(samples), "failed": failed,
            "metrics": metrics}


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    for w in names:
        res = run(w, a.seed, a.seconds, a.trace)
        if len(names) > 1:
            log(f"{w}: attempted {res['attempted']}, failed {res['failed']}")
            for n, m in res["metrics"].items():
                log(f"  {w} {n} = {m['value']:.4f} {m['unit']}")
        print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
