"""The benchmark command.

    python3 bench/run.py --workload <extract|sku_match|corpus_dedup> --seed <n>
                         --seconds <s> --trace <0|1>

Builds the program from ``src/main`` (see build.py), starts one JVM with
pinned heap and collector, and prints the run's host facts, input
properties and metrics. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

    python3 bench/run.py --selftest    runs the JVM-side self-test
    python3 bench/run.py --profile-corpus [documents.parquet] --seed <n>
                                       profiles a document table and the
                                       generated corpus (CorpusProfile)
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchstats  # noqa: E402
import build  # noqa: E402

WORKLOADS = ("extract", "sku_match", "corpus_dedup")
END_TO_END = [("setup_s", "s"), ("rows_per_s", "rows/s"), ("pass_p50_s", "s"), ("heap_mb", "MB")]
MAX_CORES = 4
# heap and collector are pinned so that heap_mb and GC time repeat
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xss4m"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# a run's JVM: set-up, warm-up and probes take a fixed allowance, the
# window and the passes that overrun it a multiple of --seconds
SETUP_ALLOWANCE_S = 120
TOOL_TIMEOUT_S = 600


def jvm_timeout(seconds):
    return SETUP_ALLOWANCE_S + 5 * seconds


def jvm_flags():
    return JVM_FLAGS + ADD_OPENS


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, main, args, work, timeout):
    """Run one JVM to completion in ``work``; its output goes to jvm.log."""
    work.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    cds = [f"-XX:SharedArchiveFile={build.CDS}"] if build.CDS.is_file() else []
    cmd = (["java"] + jvm_flags() + cds + [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, main]
           + [str(a) for a in args])
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def jvm_log_tail(work, n=40):
    try:
        return "".join((work / "jvm.log").read_text(errors="replace").splitlines(True)[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--profile-corpus", nargs="?", const="", metavar="PARQUET")
    a = ap.parse_args()
    # a terminated run stops its JVM too (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tool = a.selftest or a.profile_corpus is not None
    if not tool and a.workload is None:
        ap.error("--workload is required")

    try:
        cp = build.build(jvm_flags())
    except build.BuildError as e:
        print(f"[bench] build failed: {e}", file=sys.stderr)
        return 2

    cores = min(MAX_CORES, nproc())
    tag = "tool" if tool else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = build.TARGET / "work" / f"{tag}-{os.getpid()}"
    out = work / "record.json"
    try:
        if a.selftest:
            code = run_jvm(cp, "graftbench.SelfTest", [cores, work], work, TOOL_TIMEOUT_S)
            print(jvm_log_tail(work, 60))
            return 0 if code == 0 else 1
        if a.profile_corpus is not None:
            table = [str(Path(a.profile_corpus).resolve())] if a.profile_corpus else []
            code = run_jvm(cp, "graftbench.CorpusProfile", [cores, work, a.seed] + table, work,
                           TOOL_TIMEOUT_S)
            print("".join(l for l in jvm_log_tail(work, 400).splitlines(True) if l.startswith("profile ")))
            return 0 if code == 0 else 1
        code = run_jvm(cp, "graftbench.BenchMain",
                       [a.workload, a.seed, a.seconds, a.trace, cores, work, out], work,
                       jvm_timeout(a.seconds))
        if code != 0 or not out.is_file():
            why = "timed out" if code is None else f"exit code {code}"
            print(f"[bench] JVM {why}\n{jvm_log_tail(work)}", file=sys.stderr)
            return 1
        rec = json.loads(out.read_text())
        report(rec, a, cores)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(rec, a, cores):
    passes = rec["passes"]
    host = {"nproc": nproc(), "jvm_processors": rec["jvm_processors"], "master": rec["master"],
            "cores": cores, "steal_share": rec["steal_share"], "jvm_flags": rec["jvm_flags"],
            "collectors": rec["collectors"], "loadavg": os.getloadavg()}
    print("host " + json.dumps(host))
    print("input " + json.dumps(rec["input"]))
    print("setup " + json.dumps(rec["setup"]))
    walls = [p["wall_s"] for p in passes]
    q1, q3 = benchstats.quartiles(walls)
    tail = benchstats.tail_percentile(walls)
    print("passes " + json.dumps({
        "timed": len(passes), "traced": sum(p["traced"] for p in passes),
        "window_s": rec["window_s"], "wall_s": walls, "heap_mb": [p["heap_mb"] for p in passes],
        "p50_s": benchstats.median(walls),
        "q1_s": q1, "q3_s": q3,
        "tail": None if tail is None else {"percentile": tail[0], "s": tail[1]}}))

    # checked passes: every timed pass and the first warm-up pass
    failed = sum(not p["ok"] for p in passes) + (not rec["warmup_checked_ok"])
    attempted = len(passes) + 1
    if a.trace:
        layer = benchstats.per_layer(rec)
        units = dict(benchstats.LAYER_METRICS)
        metrics = {k: {"value": layer[k], "unit": units[k]} for k, _ in benchstats.LAYER_METRICS}
        traced_ids = {p["i"] for p in passes if p["traced"]}
        selfs = benchstats.self_by_name(rec["spans"], traced_ids)
        print("self_time_s_per_traced_pass " + json.dumps(selfs))
        trace_dir = build.TARGET / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        (trace_dir / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps(rec["spans"]))
    else:
        e2e = benchstats.end_to_end(rec)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.exit(main())
