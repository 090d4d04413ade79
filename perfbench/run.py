#!/usr/bin/env python3
"""Cold-JVM benchmark of the graft pipeline.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from
source (``perfbench/build.sbt``; the root build is not used), generates
the seed's inputs (``inputs.py``), then runs the workload as a pipeline
job runs: each pass is a fresh JVM with a local[4] session that executes
the workload's steps (``scala/perfbench/Workloads.scala``) once. Passes
repeat until ``--seconds`` have been measured. Each pass gets a fresh
temp root (``java.io.tmpdir``, ``SPARK_LOCAL_DIRS``, so also the engine's
memo spills and temp stores), deleted after the pass. The engine puts
its throwaway streaming checkpoints on /dev/shm when that is writable
and deletes them itself; that policy is the engine's and is the same on
both sides of any comparison.

After each pass, outside the timed window, every step's output is
compared with its DuckDB oracle (``SparkEntry.oracleSql``) over the same
inputs, with the comparison of ``tools/check_oracle.py``. A step that
fails or mismatches counts as failed; ``ok_frac`` is the share of step
executions that matched.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
of BENCHMARK.json (medians over the passes). With ``--trace 1`` the run
makes one untraced pass and one traced pass and reports the per-layer
metrics (medians over the traced passes), the tracing overhead (traced
minus untraced pipeline time) and the number of steps whose job count
differed between passes; such counts cannot support a count-based
claim. Every pass counts each step's jobs from the scheduler, without a
listener. The passes' steps (with job counts) and spans are written to
``.bench_build/perfbench/spans/<workload>-<seed>.json``.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# a run must end within 180 s of its start once the build is done
RUN_DEADLINE_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns its exit code, or
    None on timeout. The whole group (sbt's launcher starts a JVM) is
    killed and reaped on timeout or interruption."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                            start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Compiles engine + harness once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"[perfbench] engine sources not found at {ENGINE_SRC}")
    digest = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "scala"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            digest.update(p.encode())
            with open(p, "rb") as fh:
                digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp
    log("building engine and harness with sbt")
    os.makedirs(WORK, exist_ok=True)
    build_log = os.path.join(WORK, "build.log")
    with open(build_log, "w") as fh:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], 850, cwd=HERE,
                         stdout=fh, stderr=subprocess.STDOUT)
    with open(build_log) as fh:
        output = fh.read()
    # the exported classpath is the one line that is not a log line
    lines = [l for l in output.splitlines() if "classes" in l and ":" in l
             and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(output[-4000:])
        sys.exit("[perfbench] build failed")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def run_pass(cp, workload, data, pass_dir, traced, deadline):
    tmp, out = os.path.join(pass_dir, "tmp"), os.path.join(pass_dir, "out")
    os.makedirs(tmp)
    result = os.path.join(pass_dir, "result.json")
    cmd = ["java"] + [a for p in ADD_OPENS
                      for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
            "--workload", workload, "--data", data, "--out", out,
            "--result", result, "--trace", "1" if traced else "0"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(pass_dir, "stderr.log"), "w") as err:
        code = run_child(cmd + ["--spawn-ns", str(time.time_ns())],
                         max(1.0, deadline - time.monotonic()), env=env,
                         stdout=err, stderr=err)
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(pass_dir, "stderr.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        sys.exit(f"[perfbench] harness JVM failed ({code})")
    with open(result) as fh:
        return json.load(fh), out


class Oracle:
    """DuckDB over the generated inputs; each oracle query runs once per
    run and is compared with every pass's output."""

    def __init__(self, data):
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
        self.checker = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.checker)
        self.con = duckdb.connect()
        for name in os.listdir(data):
            self.con.execute(
                f"CREATE VIEW {name.split('.')[0]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data, name)}/*.parquet')")
        self.expected = {}

    def check(self, step, sql, out):
        """Returns an error message, or '' when the output matches."""
        if step["error"]:
            return "failed: " + step["error"]
        path = os.path.join(out, step["name"])
        got = self.con.execute(
            f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()
        if not sql:
            return "" if len(got) else "no oracle and no rows"
        if step["oracle"] not in self.expected:
            self.expected[step["oracle"]] = self.con.execute(sql).fetchdf()
        # the checker reports tolerance-only matches on stdout, which
        # must stay free for the result line
        with contextlib.redirect_stdout(sys.stderr):
            ok, msg = self.checker.compare(got, self.expected[step["oracle"]])
        return "" if ok else "wrong output: " + msg


def main():
    # SIGTERM unwinds like an error, so the JVM is killed and temp removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"[perfbench] unknown workload {args.workload}")

    cp = build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = os.path.join(run_dir, "inputs")
        inputs.generate(data, args.seed)
        oracle = Oracle(data)
        passes, attempted, failed = [], 0, 0
        # trace mode: one untraced pass, then a traced one
        plan = [False, True] if args.trace else [False]
        t0, pass_s = time.monotonic(), 0.0
        # another pass only if one as long as the last still fits
        while plan or (time.monotonic() - t0 < args.seconds and
                       time.monotonic() + pass_s < deadline):
            start = time.monotonic()
            traced = plan.pop(0) if plan else bool(args.trace)
            pass_dir = os.path.join(run_dir, f"pass-{len(passes)}")
            result, out = run_pass(cp, args.workload, data, pass_dir, traced,
                                   deadline)
            for step in result["steps"]:
                attempted += 1
                err = oracle.check(step, result["oracle_sql"][step["oracle"]], out)
                if err:
                    failed += 1
                    log(f"{step['name']}: {err}")
            shutil.rmtree(pass_dir)
            result["traced"] = traced
            passes.append(result)
            pass_s = time.monotonic() - start
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    metrics = {}
    if args.trace:
        for m in spec["per_layer"]:
            name = m["name"]
            if name == "trace.overhead_s":
                value = (statistics.median(p["pipeline_s"] for p in traced)
                         - statistics.median(p["pipeline_s"] for p in untraced))
            elif name == "process.cpu_s":
                value = statistics.median(p["cpu_s"] for p in traced)
            elif name == "queries.jobs_unstable_steps":
                jobs = [[s["jobs"] for s in p["steps"]] for p in passes]
                value = sum(1 for counts in zip(*jobs) if len(set(counts)) > 1)
            else:
                value = statistics.median(p["layers"][name] for p in traced)
            metrics[name] = {"value": value, "unit": m["unit"]}
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        with open(os.path.join(WORK, "spans", f"{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump([{"traced": p["traced"], "steps": p["steps"], "spans": p["spans"]}
                       for p in passes], fh)
    else:
        for m in spec["end_to_end"]:
            name = m["name"]
            if name == "ok_frac":
                value = (attempted - failed) / attempted
            else:
                value = statistics.median(p[name] for p in untraced)
            metrics[name] = {"value": value, "unit": m["unit"]}
        log(f"medians of {len(untraced)} passes")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
