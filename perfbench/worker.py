"""The timed process of one benchmark run.

It imports the program from the checkout, sets up a session, runs one
warm-up query, and then (role ``run``) executes the query plan the
orchestrator wrote: one client, a closed loop, each execution timed as
the query callable returning its DataFrame plus ``.collect()``.
Everything else (result fingerprints, status-store reads, plan walks)
happens after an execution's clock has stopped.

Role ``probe`` stops after the warm-up query: it only measures set-up.

With ``--trace 1`` every execution runs under its own job group, and
the worker reads Spark's status store (through the UI's REST API), the
executed plan and a streaming listener to build spans and per-layer
counters. The untraced run does none of that.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402

_PY_NODES = ("Python", "Pandas", "Arrow")


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _dir_usage(path) -> tuple[int, int]:
    """(directories, bytes) under ``path``."""
    dirs = nbytes = 0
    for root, ds, fs in os.walk(path):
        dirs += len(ds)
        for fn in fs:
            try:
                nbytes += os.path.getsize(os.path.join(root, fn))
            except OSError:  # removed while walking
                pass
    return dirs, nbytes


def _storage(sc, scratch_root) -> dict:
    """What the session holds: persisted RDDs, their cached bytes, and
    the directories and bytes under the program's scratch root."""
    jsc = sc._jsc
    cached = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    dirs, nbytes = _dir_usage(scratch_root)
    return {"persisted_rdds": jsc.getPersistentRDDs().size(), "cached_bytes": cached,
            "scratch_dirs": dirs, "scratch_bytes": nbytes}


class Tracer:
    """Reads what Spark recorded about one execution, after it ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.sql_seen = 0
        self.batches: list[tuple[float, float]] = []  # (batch start, seconds)
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Batches(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.batches.append((Tracer._epoch(p.timestamp), p.batchDuration / 1000.0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Batches())

    def _get(self, path):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    @staticmethod
    def _epoch(s):
        """Epoch seconds of a status-store ("...GMT") or streaming
        progress ("...Z") timestamp."""
        s = s.replace("GMT", "+0000").replace("Z", "+0000")
        return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

    def attribute_batches(self, counters):
        """Micro-batches per execution, by batch start time. Listener
        events arrive asynchronously, so this runs after the last
        execution."""
        time.sleep(1.0)
        for c in counters:
            batch = [d for at, d in self.batches if c["_t0"] <= at <= c["_t2"]]
            c["streaming.batches"] = len(batch)
            c["streaming.batch_s"] = sum(batch)

    def _settled_jobs(self, group):
        tracker = self.sc.statusTracker()
        ids = sorted(tracker.getJobIdsForGroup(group))
        deadline = time.time() + 30
        while time.time() < deadline:
            jobs = [self._get(f"/jobs/{j}") for j in ids]
            if all(j["status"] != "RUNNING" and "completionTime" in j for j in jobs):
                return jobs
            time.sleep(0.05)
        return jobs

    def _stage(self, sid):
        """The attempts of one stage. Its jobs have ended, so only an
        attempt still marked ACTIVE has events left to arrive; a PENDING
        one never ran."""
        deadline = time.time() + 30
        while True:
            attempts = self._get(f"/stages/{sid}?details=false")
            if all(a["status"] != "ACTIVE" for a in attempts) or time.time() > deadline:
                return attempts
            time.sleep(0.05)

    def _written_files(self, job_ids):
        execs = self._get(f"/sql?details=true&planDescription=false&offset={self.sql_seen}&length=10000")
        self.sql_seen += len(execs)
        files = 0
        for e in execs:
            if not set(e.get("successJobIds", []) + e.get("failedJobIds", [])) & job_ids:
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "number of written files":
                        files += int(m["value"].replace(",", ""))
        return files

    @staticmethod
    def _plan_python_bytes(df):
        """Bytes sent to and received from Python workers by the
        Python-eval nodes of the executed plan."""
        moved = {"pythonDataSent": 0, "pythonDataReceived": 0}
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name.startswith("AdaptiveSparkPlan"):
                stack.append(node.executedPlan())
                continue
            if "QueryStage" in name:
                stack.append(node.plan())
                continue
            if any(k in name for k in _PY_NODES):
                for key in moved:
                    opt = node.metrics().get(key)
                    if opt.isDefined():
                        moved[key] += opt.get().value()
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        return moved["pythonDataSent"], moved["pythonDataReceived"]

    @staticmethod
    def _phases(df):
        """Catalyst phase times (ms) of the collected DataFrame."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for key in ("analysis", "optimization", "planning"):
            opt = phases.get(key)
            out[key] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    def record(self, label, t0, t1, t2, df, rows, cores, scratch_root):
        """Spans and counters of one execution (wall clock t0 < t1 < t2:
        start, callable returned, collect returned)."""
        spans = [
            {"id": f"{label}/query", "parent": None, "name": "query", "trace": label,
             "start": t0, "end": t2},
            {"id": f"{label}/build", "parent": f"{label}/query", "name": "queries.build",
             "trace": label, "start": t0, "end": t1},
            {"id": f"{label}/collect", "parent": f"{label}/query", "name": "collect",
             "trace": label, "start": t1, "end": t2},
        ]
        jobs = self._settled_jobs(label)
        stages = []
        for j in jobs:
            js, je = self._epoch(j["submissionTime"]), self._epoch(j["completionTime"])
            parent = f"{label}/build" if js < t1 else f"{label}/collect"
            jid = f"{label}/job{j['jobId']}"
            spans.append({"id": jid, "parent": parent, "name": "job", "trace": label,
                          "start": js, "end": je, "job": j["jobId"]})
            for sid in j["stageIds"]:
                for a in self._stage(sid):
                    a["_job"] = jid
                    if "submissionTime" in a:
                        a["submitted"] = self._epoch(a["submissionTime"])
                    stages.append(a)
        # the status store keeps milliseconds: allow for the truncation
        ran = metrics.counted_stages(stages, since=t0 - 0.001)
        for s in ran:
            if "submissionTime" in s and "completionTime" in s:
                spans.append({"id": f"{label}/stage{s['stageId']}.{s['attemptId']}",
                              "parent": s["_job"], "name": "stage", "trace": label,
                              "start": self._epoch(s["submissionTime"]),
                              "end": self._epoch(s["completionTime"]),
                              "tasks": s["numTasks"]})
        selfs = metrics.self_times(spans)
        tot = lambda k: sum(s.get(k, 0) for s in ran)  # noqa: E731
        sent, received = self._plan_python_bytes(df) if df is not None else (0, 0)
        phases = self._phases(df) if df is not None else {}
        storage = _storage(self.sc, scratch_root)
        counters = {
            "queries.build_s": t1 - t0,
            "queries.build_jobs": sum(1 for j in jobs if self._epoch(j["submissionTime"]) < t1),
            "plans.analysis_ms": phases.get("analysis", 0.0),
            "plans.optimization_ms": phases.get("optimization", 0.0),
            "plans.planning_ms": phases.get("planning", 0.0),
            "session.jobs": len(jobs),
            "session.stages": len(ran),
            "session.tasks": tot("numTasks"),
            "session.single_task_stages": sum(1 for s in ran if s["numTasks"] == 1),
            "session.driver_gap_s": selfs[f"{label}/collect"],
            "session.exec_run_s": tot("executorRunTime") / 1000.0,
            "session.exec_cpu_s": tot("executorCpuTime") / 1e9,
            "session.gc_s": tot("jvmGcTime") / 1000.0,
            "session.shuffle_read_bytes": tot("shuffleReadBytes"),
            "session.shuffle_write_bytes": tot("shuffleWriteBytes"),
            "session.spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
            "session.result_rows": len(rows) if rows is not None else 0,
            "catalog.scan_bytes": tot("inputBytes"),
            "catalog.scan_rows": tot("inputRecords"),
            "operators.pyworker_bytes_sent": sent,
            "operators.pyworker_bytes_returned": received,
            "scratch.persisted_rdds": storage["persisted_rdds"],
            "scratch.cached_bytes": storage["cached_bytes"],
            "scratch.disk_bytes": storage["scratch_bytes"],
            "tables.output_bytes": tot("outputBytes"),
            "tables.output_rows": tot("outputRecords"),
            "tables.files_written": self._written_files({j["jobId"] for j in jobs}),
            # filled in by attribute_batches
            "streaming.batches": 0,
            "streaming.batch_s": 0.0,
            "_t0": t0, "_t2": t2,
            # core_util's denominator; the run sums it before dividing
            "_core_s": (t2 - t0) * cores,
        }
        for s in spans:
            s["self"] = selfs[s["id"]]
        return spans, counters


def setup(args):
    """Process start (the orchestrator's launch time) until the session
    is ready and one warm-up query has run."""
    from starrocks_spark import registry, scratch
    from starrocks_spark.queries import ssb
    from starrocks_spark.session import get_spark

    # the SSB flat table is cached under a fixed /tmp path by default;
    # keep it, like every other write, inside this run's directory
    ssb._WAREHOUSE = os.path.join(args.tmp, "ssb_warehouse")
    spark = get_spark(
        app_name=f"perfbench-{args.role}", master=args.master,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(args.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={args.tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, registry.all_queries(), scratch.scratch_root, time.time() - args.launch


def run(args, spark, queries, scratch_root):
    with open(args.plan) as f:
        plan = json.load(f)
    cores = int(args.master[len("local["):-1])
    tracer = Tracer(spark) if args.trace else None
    executions, pass_walls, spans, counters = [], [], [], []
    for p, names in enumerate(plan["passes"]):
        pass_t0 = time.perf_counter()
        for name in names:
            label = f"{plan['workload']}:{p}:{name}"
            if tracer:
                spark.sparkContext.setJobGroup(label, label)
            df = rows = t1 = error = None
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, plan["corpus"])
                t1 = time.perf_counter()
                rows = df.collect()
            except Exception as e:  # noqa: BLE001 - a failure is a result, not a crash
                error = f"{type(e).__name__}: {str(e)[:300]}"
            t2 = time.perf_counter()
            t1 = t2 if t1 is None else t1
            rec = {"pass": p, "name": name, "latency_s": t2 - t0,
                   "build_s": t1 - t0, "error": error}
            if error is None:
                rec["fingerprint"] = metrics.result_fingerprint(df.columns, rows)
                rec["rows"] = len(rows)
            if tracer:
                s, c = tracer.record(label, w0, w0 + (t1 - t0), w0 + (t2 - t0),
                                     df if error is None else None, rows,
                                     cores, scratch_root())
                c["pass"] = p
                spans.extend(s)
                counters.append(c)
            executions.append(rec)
        pass_walls.append(time.perf_counter() - pass_t0)
    if tracer:
        tracer.attribute_batches(counters)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return {
        "executions": executions, "pass_walls": pass_walls,
        "spans": spans, "counters": counters,
        "leaks": _storage(spark.sparkContext, scratch_root()),
        "peak_rss_mb": _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=["run", "probe"], required=True)
    ap.add_argument("--launch", type=float, required=True)
    ap.add_argument("--master", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--plan")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spark, queries, scratch_root, setup_s = setup(args)
    out = {"setup_s": setup_s}
    if args.role == "run":
        # set-up probes may still be running: start timing only when the
        # orchestrator says the machine is ours
        print("READY", flush=True)
        sys.stdin.readline()
        out.update(run(args, spark, queries, scratch_root))
    with open(args.out, "w") as f:
        json.dump(out, f)
    # the orchestrator stops this process and all below it once it reads DONE
    print("DONE", flush=True)
    sys.stdin.readline()

if __name__ == "__main__":
    main()
