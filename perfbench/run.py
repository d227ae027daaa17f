"""graft's benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload reportdb --seed 1 --seconds 10 --trace 0

Builds graft and the JVM runner from source (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs the JVM
runner for the measured seconds, checks every operation's output
(perfbench/check.py) and prints one JSON object as the last line of
stdout: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. It exits non-zero, without that line, when it cannot run,
and exits 1 after printing it when any output check fails.
"""

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("reportdb", "corpus", "ann")
SETUPS = 3
# the JVM's time limit: start-up, set-ups, warm-up and checks, plus the
# loop and the last cycle's overshoot
JVM_FIXED_S = 120
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# outputs each workload's ops persist, for bytes written per input byte
OUTPUTS = {"reportdb": ["spool*/ingest", "spool*/in", "spool*/registered"],
           "corpus": ["packed"], "ann": ["index*/codes", "index*/model"]}


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, workload, rundir, seconds, trace):
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.runtime_classpath(classes), "graft.perfbench.Main",
            "--workload", workload, "--rundir", rundir,
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores()), "--setups", str(SETUPS)]
    log_path = os.path.join(rundir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=rundir, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_FIXED_S + 2 * seconds)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"JVM runner exited with {code}")
    with open(os.path.join(rundir, "run.json")) as f:
        return json.load(f)


def dir_bytes(paths):
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def good_ops(run, bad):
    """The measured loop's ops that neither threw nor failed a check."""
    return [o for o in run["ops"]
            if not o["warmup"] and o["ok"] and o["id"] not in bad]


def latencies(run, bad):
    good = good_ops(run, bad)
    lat = {k: [o["ms"] for o in good if o["kind"] == k] for k in ("read", "write")}
    for k, xs in lat.items():
        if not xs:
            raise SystemExit(f"no successful {k} ops in the measured loop")
    return lat


def end_to_end(run, bad, recall):
    loop = [o for o in run["ops"] if not o["warmup"]]
    good = good_ops(run, bad)
    lat = latencies(run, bad)
    return {
        "setup_s": stats.median(run["setup_s"]) + run["warmup_s"],
        "read_p50_ms": stats.median(lat["read"]),
        "write_p50_ms": stats.median(lat["write"]),
        "ops_per_s": len(good) / run["loop_s"],
        "rows_per_s": sum(o["rows"] for o in good) / run["loop_s"],
        "answer_recall": recall,
        "ok_frac": len(good) / len(loop),
        "retained_heap_mb": run["retained_old_gen_bytes"] / 2**20,
    }


def _rows_returned(op):
    res = op.get("out", {}).get("result")
    if isinstance(res, dict):
        return sum(len(v) for v in res.values())
    return len(res) if isinstance(res, list) else 0


def per_layer(run, bad, plan, rundir, workload):
    out = {}
    by_span = {}
    for p in run["phases"]:
        by_span.setdefault(p["span"], {}).setdefault(p["op"], []).append(p)
    for span in stats.SPANS:
        calls = list(by_span.get(span, {}).values())
        if not calls:  # a span this workload does not run
            out.update({f"{span}.{m}": 0.0 for m, _, _ in stats.SPAN_METRICS})
            continue
        for ph in ("construct", "plan", "exec"):
            out[f"{span}.{ph}_ms"] = stats.median(
                [sum(p["wall_ms"] for p in c if p["phase"] == ph) for c in calls])
        mean = lambda k: sum(p[k] for c in calls for p in c) / len(calls)  # noqa: E731
        out[f"{span}.tasks"] = mean("tasks")
        out[f"{span}.task_s"] = mean("task_ms") / 1000
        out[f"{span}.shuffle_bytes"] = mean("shuffle_bytes")
    t = run["totals"]
    out["spark.gc_s"] = t["gc_ms"] / 1000
    out["spark.spill_bytes"] = float(t["spill_bytes"])
    out["spark.peak_exec_mem_mb"] = t["peak_exec_mem"] / 2**20
    st = run["streams"]
    for k in ("query_planning_ms", "add_batch_ms", "wal_commit_ms"):
        out[f"streaming.{k}"] = float(stats.median([s[k] for s in st])) if st else 0.0
    out["streaming.state_rows"] = float(max((s["state_rows"] for s in st), default=0))
    out["streaming.state_commit_ms"] = \
        float(stats.median([s["state_commit_ms"] for s in st])) if st else 0.0
    written = dir_bytes([g for pat in OUTPUTS[workload]
                         for g in glob.glob(os.path.join(rundir, pat))])
    out["sources.bytes_written_per_input_byte"] = written / plan["input_bytes"]
    returned = run["rows_written"] + sum(_rows_returned(o) for o in run["ops"] if o["ok"])
    out["rows_scanned_per_row_returned"] = run["rows_scanned"] / max(returned, 1)
    e2e = end_to_end(run, bad, 0.0)
    for k in ("read_p50_ms", "write_p50_ms", "rows_per_s"):
        out[f"trace.{k}"] = e2e[k]
    return out


def spans_file(run):
    """Span records: name, start, end, parent, op id, counters; the op
    spans carry their self time (wall not inside any module span)."""
    spans = {}
    for p in run["phases"]:
        key = (p["span"], p["op"])
        s = spans.setdefault(key, {"name": p["span"], "op": p["op"],
                                   "parent": p["parent"], "start_ms": p["start_ms"],
                                   "end_ms": p["start_ms"], "phases": {}})
        s["phases"][p["phase"]] = {k: p[k] for k in (
            "wall_ms", "jobs", "tasks", "task_ms", "gc_ms", "shuffle_bytes",
            "spill_bytes", "peak_exec_mem")}
        s["end_ms"] = max(s["end_ms"], p["start_ms"] + p["wall_ms"])
        s["start_ms"] = min(s["start_ms"], p["start_ms"])
    out = list(spans.values())
    for s in out:
        s["self_ms"] = sum(ph["wall_ms"] for ph in s["phases"].values())
    for o in run["ops"]:
        if o["traced"]:
            inner = sum(s["self_ms"] for s in out if s["op"] == o["id"])
            out.append({"name": f"op:{o['op']}", "op": o["id"], "parent": "",
                        "wall_ms": o["ms"], "self_ms": o["ms"] - inner})
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(build.MAIN_SRC):
        sys.stderr.write(f"graft sources not found under {ROOT}; run from a "
                         "checkout of the repository\n")
        return 2
    classes = build.build()
    work = os.path.join(build.OUT, "runs")
    rundir = os.path.join(work, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        t0 = time.time()
        plan = gen.generate(a.workload, a.seed, rundir)
        gen_s = time.time() - t0
        t0 = time.time()
        run = run_jvm(classes, a.workload, rundir, a.seconds, a.trace)
        jvm_s = time.time() - t0
        run["_dir"] = rundir
        bad, recall = check.CHECKS[a.workload](plan, run)
        check_s = time.time() - t0 - jvm_s
        loop = [o for o in run["ops"] if not o["warmup"]]
        errors = {o["id"]: o.get("error", "") for o in run["ops"] if not o["ok"]}
        failures = {str(i): bad.get(i) or errors.get(i)
                    for i in sorted(set(errors) | set(bad))}
        for i, why in failures.items():
            sys.stderr.write(f"op {i} failed: {why}\n")
        correct = not failures and recall is not None
        if a.trace:
            metrics = per_layer(run, bad, plan, rundir, a.workload)
            units = {n: u for n, u, _ in stats.PER_LAYER}
        else:
            metrics = end_to_end(run, bad, recall if recall is not None else 0.0)
            units = {n: u for n, u, _ in stats.END_TO_END}
        lat = latencies(run, bad)
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "gen_s": gen_s, "input_rows": plan["rows"],
            "input_bytes": plan["input_bytes"], "setup_runs_s": run["setup_s"],
            "warmup_s": run["warmup_s"], "loop_s": run["loop_s"],
            "cycles": run["cycles"], "jvm_s": jvm_s, "check_s": check_s,
            "samples": {k: len(xs) for k, xs in lat.items()},
            "latencies_ms": lat,
            "tail_quantile": {k: stats.tail_quantile(len(xs))
                              for k, xs in lat.items()},
            "tail_ms": {k: stats.tail(xs) for k, xs in lat.items()},
            "failures": failures,
            "provenance": dict(run["provenance"], nproc=os.cpu_count(),
                               **provenance()),
            "metrics": metrics,
        }
        if a.trace:
            record["spans"] = spans_file(run)
        os.makedirs(os.path.join(build.OUT, "records"), exist_ok=True)
        with open(os.path.join(build.OUT, "records",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps({
            "correct": correct, "attempted": len(loop),
            "failed": sum(1 for o in loop if str(o["id"]) in failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def provenance():
    """Git SHA and dirty flag when the checkout is a git repository."""
    def git(*args):
        try:
            return subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                                  text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return ""
    sha = git("rev-parse", "HEAD")
    return {"git_sha": sha or None,
            "git_dirty": bool(git("status", "--porcelain")) if sha else None}


if __name__ == "__main__":
    sys.exit(main())
