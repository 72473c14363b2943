#!/usr/bin/env python3
"""Benchmark entry point. Run it from the root of a checkout:

    python3 perfbench/run.py --workload write_path --seed 1 --seconds 30 --trace 0

One run: make sure the workload's corpus and oracle fingerprints exist
(built on first use in a checkout, under ``.bench_build/perfbench``),
then start two set-ups at once (the timed worker and a probe that only
sets up), stop the probe, and let the worker execute its passes: a cold
pass in the listed order, then warm passes in the order the seed draws.
Every execution is checked against its oracle fingerprint. See
README.md.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones). The full record (environment,
executions, leak counters, and spans for a traced run) is written to
``.bench_build/perfbench/results/``. ``--workload all`` runs every
workload in turn and prints one line of metrics for each.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from importlib import metadata

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import metrics  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
SETUPS = 2          # set-ups per run: the worker plus SETUPS - 1 probes
RUN_LIMIT_S = 170   # a run that takes longer is killed and fails


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def _program_fingerprint() -> str:
    """Hash of the program's sources, for checkouts that are not git
    repositories."""
    h = hashlib.blake2b(digest_size=12)
    pkg = os.path.join(ROOT, "starrocks_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for fn in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, fn)
            h.update(os.path.relpath(path, pkg).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _version(dist: str) -> str:
    try:
        return metadata.version(dist)
    except metadata.PackageNotFoundError:
        return "absent"


def _become_subreaper() -> None:
    """Adopt orphaned descendants (a worker's JVM outlives a killed
    worker for a moment), so that ``_reap_all`` can wait for them too."""
    import ctypes

    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    PR_SET_CHILD_SUBREAPER = 36
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _descendants(root: int) -> list[int]:
    """Every live process below ``root``, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):  # ended while reading
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        kids = children.get(stack.pop(), [])
        out.extend(kids)
        stack.extend(kids)
    return out


def _kill(pids) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _reap(proc: subprocess.Popen) -> None:
    """Kill ``proc`` and every process below it (the JVM, and PySpark's
    Python-worker daemon, which puts itself in a process group of its
    own), and wait for ``proc``. Its results are already on disk and its
    files die with the run directory, so there is nothing to shut down
    gracefully. Descendants that outlive it are adopted by this process
    and ended by ``_reap_all``."""
    _kill([proc.pid, *_descendants(proc.pid)])
    proc.wait()


def _reap_all(limit_s: float = 30) -> None:
    """Kill every process below this one and wait until each has ended.
    As a subreaper, this process adopts every orphaned descendant, so
    none can escape the sweep."""
    deadline = time.time() + limit_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        _kill(_descendants(os.getpid()))
        if time.time() > deadline:
            raise RuntimeError("descendant processes survived SIGKILL")
        time.sleep(0.02)


def prepare(workload: str, program: str) -> tuple[dict, dict]:
    """The workload's corpus and its queries' oracle fingerprints, built
    on first use in a checkout. The oracle process runs only when the
    corpus, the program's sources or the query set changed since the
    cache was written. Returns the corpus manifest and the expected
    fingerprints."""
    kind = WORKLOADS[workload]["corpus"]
    manifest = corpus.ensure(kind, os.path.join(CACHE, "corpus"))
    cache = os.path.join(CACHE, f"oracles-{kind}.json")
    names = WORKLOADS[workload]["queries"]
    old = {}
    if os.path.exists(cache):
        with open(cache) as f:
            old = json.load(f)
    if old.get("corpus") != manifest["content"]["fingerprint"] \
            or old.get("program") != program or not set(names) <= set(old["queries"]):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracles.py"),
             "--corpus", manifest["path"], "--corpus-fp", manifest["content"]["fingerprint"],
             "--program", program, "--cache", cache,
             "--work", os.path.join(CACHE, "duckdb-tmp"), *names],
            check=True, cwd=ROOT, timeout=840)
        with open(cache) as f:
            old = json.load(f)
    return manifest, old["queries"]


def make_plan(workload: str, seed: int, seconds: float) -> list[list[str]]:
    """A cold pass and then enough warm passes to fill ``seconds`` at the
    workload's nominal pass time. The pass count depends on the
    arguments only, so every seed does the same work. The seed draws the
    query order of each warm pass. The cold pass keeps the listed order:
    the first queries a JVM runs shape its JIT profile for the rest of
    the run, so a seed-drawn cold order makes every later figure depend
    on the seed."""
    w = WORKLOADS[workload]
    warm = max(2, round(seconds / w["nominal_pass_s"]))
    rng = random.Random(seed)
    return [list(w["queries"])] + [rng.sample(w["queries"], len(w["queries"]))
                                   for _ in range(warm)]


def run_one(args) -> dict:
    t_start = time.time()
    nproc = _nproc()
    master = f"local[{nproc}]"
    load_before, ticks_before = os.getloadavg(), _cpu_ticks()
    program = _program_fingerprint()
    manifest, expected = prepare(args.workload, program)
    plan = {"workload": args.workload, "corpus": manifest["path"],
            "passes": make_plan(args.workload, args.seed, args.seconds)}
    run_dir = os.path.join(CACHE, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    env = dict(os.environ, TZ="UTC", PYTHONUNBUFFERED="1")
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc))

    def launch(role, i):
        tmp = os.path.join(run_dir, f"{role}{i}")
        os.makedirs(tmp)
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--role", role,
               "--launch", repr(time.time()), "--master", master, "--tmp", tmp,
               "--out", os.path.join(tmp, "out.json"), "--trace", str(args.trace),
               "--plan", os.path.join(run_dir, "plan.json")]
        with open(os.path.join(tmp, "log.txt"), "w") as log:
            return subprocess.Popen(
                cmd, cwd=ROOT, start_new_session=True, stdout=subprocess.PIPE,
                stdin=subprocess.PIPE, stderr=log, text=True,
                env=dict(env, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
                     # spark-submit's launcher JVM, which the Spark
                     # driver's extraJavaOptions do not reach
                     SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
            ), tmp

    def too_long(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, too_long)
    signal.alarm(RUN_LIMIT_S)
    timeline = {"prepared": time.time() - t_start}
    procs = [launch("run", 0)] + [launch("probe", i) for i in range(1, SETUPS)]

    def expect(proc, word):
        if proc.stdout.readline().strip() != word:
            raise RuntimeError(f"worker exited before {word}")

    try:
        worker, _ = procs[0]
        expect(worker, "READY")
        timeline["worker_ready"] = time.time() - t_start
        # a probe's only result is its set-up time; stop it at once
        for p, _ in procs[1:]:
            expect(p, "DONE")
            _reap(p)
        timeline["go"] = time.time() - t_start
        worker.stdin.write("GO\n")
        worker.stdin.flush()
        expect(worker, "DONE")
        timeline["worker_done"] = time.time() - t_start
        outs = []
        for _, tmp in procs:
            with open(os.path.join(tmp, "out.json")) as f:
                outs.append(json.load(f))
    except Exception:
        for _, tmp in procs:
            log = os.path.join(tmp, "log.txt")
            if os.path.exists(log):
                with open(log) as f:
                    sys.stderr.write(f"--- {log}\n" + "".join(f.readlines()[-30:]))
        raise
    finally:
        signal.alarm(0)
        for p, _ in procs:
            _reap(p)
        _reap_all()
        shutil.rmtree(run_dir, ignore_errors=True)
    timeline["reaped"] = time.time() - t_start
    result = outs[0]

    for e in result["executions"]:
        want = expected.get(e["name"])
        e["ok"] = e["error"] is None and want is not None \
            and e["fingerprint"] == want["fingerprint"]
    e2e = metrics.end_to_end([o["setup_s"] for o in outs], result["executions"],
                             result["pass_walls"])
    e2e["peak_rss_mb"] = result["peak_rss_mb"]
    ticks = [b - a for a, b in zip(ticks_before, _cpu_ticks())]
    steal, total = ticks[7], sum(ticks)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "env": {
            "nproc": nproc, "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"], "master": master,
            "spark": _version("pyspark"), "python": platform.python_version(),
            "duckdb": _version("duckdb"), "git_sha": _git_sha(),
            "program_fingerprint": program,
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            # share of this machine's CPU time taken by its hypervisor
            "cpu_steal_pct": 100.0 * steal / max(1, total),
            "corpus": {"kind": manifest["kind"], "path": os.path.relpath(manifest["path"], ROOT),
                       **manifest["content"], "build_s": manifest["build_s"]},
            "setup_samples_s": [o["setup_s"] for o in outs],
        },
        "end_to_end": e2e,
        "failures": sorted({e["name"] for e in result["executions"] if not e["ok"]}),
        "leaks": result["leaks"],
        "pass_walls": result["pass_walls"],
        "timeline_s": timeline,
        "executions": result["executions"],
    }
    if args.trace:
        record["per_layer"] = per_layer(result["counters"])
        record["overhead"] = overhead(args.workload, args.seed, e2e)
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    stem = os.path.join(CACHE, "results", f"{args.workload}-trace{args.trace}-seed{args.seed}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(stem + ".spans.jsonl", "w") as f:
            for s in result["spans"]:
                f.write(json.dumps(s) + "\n")
    return record


def per_layer(counters) -> dict:
    """Per-execution means over the warm passes; scratch.* as left after
    the last execution; core_util over the whole warm run."""
    warm = [c for c in counters if c["pass"] > 0] or counters
    out = {}
    for name in PER_LAYER:
        if name.startswith("scratch."):
            out[name] = counters[-1][name]
        elif name == "session.core_util":
            out[name] = sum(c["session.exec_run_s"] for c in warm) / sum(c["_core_s"] for c in warm)
        else:
            out[name] = statistics.fmean(c[name] for c in warm)
    return out


def overhead(workload, seed, traced) -> dict:
    """Traced minus untraced for each end-to-end metric, against the
    untraced result of the same seed, or else the latest untraced one."""
    res = os.path.join(CACHE, "results")
    same = os.path.join(res, f"{workload}-trace0-seed{seed}.json")
    cands = [same] if os.path.exists(same) else sorted(
        (os.path.join(res, f) for f in os.listdir(res)
         if f.startswith(f"{workload}-trace0-") and f.endswith(".json")),
        key=os.path.getmtime)
    if not cands:
        return {"baseline": None}
    with open(cands[-1]) as f:
        base = json.load(f)
    return {"baseline": os.path.basename(cands[-1]),
            **{m: traced[m] - base["end_to_end"][m] for m in [*END_TO_END, "peak_rss_mb"]}}


def summary_line(rec) -> str:
    """All eight end-to-end metrics of a run, by name and with units."""
    e = rec["end_to_end"]
    attempted = len(rec["executions"])
    failed = sum(1 for x in rec["executions"] if not x["ok"])
    parts = [f"{m}={e[m]:.4f} {u}" for m, u in END_TO_END.items()]
    parts.insert(5, f"(tail = p{e['query_tail_percentile']} of {e['warm_samples']} warm samples)")
    parts.append(f"peak_rss_mb={e['peak_rss_mb']:.1f} MB")
    parts.append(f"failed_ratio={e['failed_ratio']:.4f} ({failed}/{attempted})")
    line = f"{rec['workload']}: " + ", ".join(parts)
    if rec["failures"]:
        line += " FAILED: " + " ".join(rec["failures"])
    return line


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "starrocks_spark", "registry.py")):
        print(f"perfbench: no program to measure under {ROOT} (starrocks_spark/ is missing)",
              file=sys.stderr)
        return 2
    _become_subreaper()
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    records = {}
    for name in names:
        try:
            rec = run_one(argparse.Namespace(**{**vars(args), "workload": name}))
        finally:
            _reap_all()
        records[name] = rec
        print(summary_line(rec))
        if args.trace:
            print(f"{name}: tracing overhead (traced - untraced): {json.dumps(rec['overhead'])}")
        for k, v in rec["leaks"].items():
            print(f"{name}: left alive at end: {k}={v}")
    attempted = sum(len(r["executions"]) for r in records.values())
    failed = sum(1 for r in records.values() for x in r["executions"] if not x["ok"])
    key, units = ("per_layer", PER_LAYER) if args.trace else ("end_to_end", END_TO_END)
    values = {(m if len(names) == 1 else f"{w}.{m}"): {"value": r[key][m], "unit": u}
              for w, r in records.items() for m, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": values}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
