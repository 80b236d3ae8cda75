"""ner_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload kg_checkpointed --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):

- ``kg_checkpointed``: a fresh process writes a seeded ``synth_docs``
  parquet corpus, times ``run_pipeline.main`` (S0-S8, 16 buckets) over it
  and then its resume over the completed catalog, and checks the output
  against an in-memory ``KGPipeline.run`` pass and the pandas oracle.
- ``registry_dedup``: a fresh session runs the 18 ``dedup_*`` registry
  queries twice over, in seed-permuted order, from ``nproc`` closed-loop
  client threads, over seeded documents/embeddings, and checks every
  result against its DuckDB oracle.

Every worker is a separate process started with the deployment below, so
each one pays a real session start. With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` the same work runs with
Spark's event log on and spans around each layer's entry points, and the
line carries the per-layer metrics. Lines starting with ``#`` before it are
the host stamp and the report; the full record is appended to
``perfbench/_work/history.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

import tracing

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = os.path.join(BENCH_DIR, "_work")
REQUIRED = ("run_pipeline.py", "ner_spark/__init__.py", "oracle/pandas_oracle.py",
            "tools/driver_sim.py")

DRIVER_MEM = "2g"  # fits a 15 GB host with room for the Python workers
KG_DOCS = 5000
KG_BUCKETS = 16
ORACLE_DOCS = 1000
REG_DOCS = 500
REG_VECS = 500
REG_REPEATS = 2
DEADLINE_S = 150.0

STAGES = ("s0_normalize", "s1_dedup", "s3_consensus", "s4_triples", "s5_linked",
          "s6_canonical", "s7_edges", "s8_nodes")
# the registry's dedup family, named here so the metric list does not
# depend on importing the program
REG_QUERIES = (
    "dedup_blocking_eval", "dedup_chunk_global", "dedup_cluster_survivors",
    "dedup_containment", "dedup_edit_distance", "dedup_exact_groups",
    "dedup_incremental_minhash", "dedup_minhash_lsh", "dedup_minhash_verified",
    "dedup_ngram_jaccard", "dedup_prefix_filter_join", "dedup_segment_firstseen",
    "dedup_semantic_prune", "dedup_simhash", "dedup_snm_multipass",
    "dedup_sorted_neighborhood", "dedup_substring_spans", "dedup_winnowing",
)


class WorkerFailed(RuntimeError):
    pass


# -- host stamp ----------------------------------------------------------

def probe_gbps(seconds: float = 0.25) -> float:
    """Single-process memcpy bandwidth, as bench.py's probe."""
    a = np.zeros(8_000_000)
    b = np.ones(8_000_000)
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        np.copyto(a, b)
        n += 1
    return n * 64_000_000 / (time.perf_counter() - t0) / 1e9


def _mem_total_kb() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return -1


def _source_digest(root: str) -> str:
    """Content hash of the program's Python sources (the checkout the
    benchmark runs in is not a git repository)."""
    h = hashlib.sha256()
    for top in ("ner_spark", "oracle", "run_pipeline.py"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".py")
        )
        for f in sorted(files):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit(root: str, env: dict) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, env=env, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return p.stdout.strip() or None


def host_stamp(root: str, env: dict, deployment: dict) -> dict:
    """Host, versions and deployment; the workers add the JVM's versions."""
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": _mem_total_kb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_commit": _git_commit(root, env),
        "source_digest": _source_digest(root),
        "deployment": deployment,
    }


# -- worker processes ----------------------------------------------------

def _group_alive(pgid: int) -> bool:
    """Any non-zombie process left in process group ``pgid``."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _become_subreaper() -> None:
    """Adopt orphaned descendants (a worker's JVM outlives the worker by a
    moment), so that ``_reap_zombies`` can wait for them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _reap_group(pgid: int) -> None:
    """Wait for the worker's JVM and Python workers to exit; kill stragglers."""
    deadline = time.monotonic() + 15
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        deadline = time.monotonic() + 15
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)
    _reap_zombies()


class Workers:
    """Starts worker processes in one run directory, under one deadline."""

    def __init__(self, run_dir: str, env: dict, conf: dict, trace: bool, deadline: float):
        self.run_dir, self.env, self.conf = run_dir, env, conf
        self.trace, self.deadline = trace, deadline
        self.n = 0
        self.timeline: list[dict] = []
        self.versions: dict | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def run(self, role: str, **spec) -> dict:
        """Run one worker to completion; its result dict, or WorkerFailed."""
        traced = self.trace
        self.n += 1
        tag = f"{self.n:02d}_{role}"
        spec = {"role": role, "trace": traced, **spec}
        spec_path, result_path = self.path(f"{tag}.spec.json"), self.path(f"{tag}.result.json")
        with open(spec_path, "w", encoding="utf-8") as f:
            json.dump(spec, f)
        conf = dict(self.conf)
        if traced:
            events = self.path("events", tag)
            os.makedirs(events)
            conf.update(tracing.eventlog_conf(events))
        env = {**self.env, "PYSPARK_SUBMIT_ARGS": tracing.submit_args(conf)}
        timeout = self.deadline - time.monotonic()
        if timeout <= 0:
            raise WorkerFailed(f"{tag}: no time left before the run deadline")
        t0 = time.monotonic()
        with open(self.path(f"{tag}.log"), "wb") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(BENCH_DIR, "worker.py"), spec_path, result_path],
                cwd=self.run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = None
            finally:
                t_exit = time.monotonic()
                _reap_group(proc.pid)
        if rc != 0 or not os.path.exists(result_path):
            with open(self.path(f"{tag}.log"), encoding="utf-8", errors="replace") as f:
                tail = f.read()[-2000:]
            raise WorkerFailed(f"{tag}: exit={rc}\n{tail}")
        with open(result_path, encoding="utf-8") as f:
            res = json.load(f)
        res["events"] = self.path("events", tag) if traced else None
        self.versions = res.get("versions", self.versions)
        self.timeline.append({"worker": tag, "process_s": t_exit - t0,
                              "reap_s": time.monotonic() - t_exit,
                              "phases": res.get("phases")})
        return res


# -- workloads -----------------------------------------------------------

def kg_checkpointed(r: Workers, seed: int, seconds: float) -> dict:
    """Fresh processes, each running one checkpointed job and its resume
    into its own catalog, until ``seconds`` of job time are measured."""
    ops = failed = 0
    setups, jobs, resumes, rss = [], [], [], []
    cycles = []
    while not jobs or sum(jobs) < seconds:
        k = len(cycles)
        spec = {"seed": seed, "n_docs": KG_DOCS, "n_buckets": KG_BUCKETS,
                "oracle_docs": ORACLE_DOCS, "corpus": r.path(f"corpus{k}"),
                "catalog": r.path(f"catalog{k}")}
        ops += 2
        try:
            res = r.run("kg", **spec)
        except WorkerFailed as e:
            print(f"# kg worker failed: {e}", file=sys.stderr)
            failed += 2
            break
        cycles.append(res)
        setups.append(res["setup_s"])
        rss.append(res["peak_rss_mb"])
        jobs.append(res["op_s"])
        resumes.append(res["resume"]["op_s"])
        checks = res["checks"]
        failed += (not all(v for c, v in checks.items() if not c.startswith("resume_"))) + (
            not all(v for c, v in checks.items() if c.startswith("resume_"))
        )
    e2e = None
    if jobs:
        job_s = statistics.median(jobs)
        e2e = {
            "setup_s": statistics.median(setups),
            "job_s": job_s,
            "docs_per_s": KG_DOCS / job_s,
            "peak_rss_mb": max(rss),
        }
    return {"ops": ops, "failed": failed, "e2e": e2e, "cycles": cycles,
            "samples": {"setup_s": setups, "job_s": jobs, "resume_s": resumes},
            # same seed, same corpus: the job's output digests repeat
            "inputs": cycles[-1]["digests"] if cycles else None}


def registry_dedup(r: Workers, seed: int, seconds: float) -> dict:
    """Fresh registry sessions, each running one timed round of the dedup
    queries, until ``seconds`` of rounds are measured."""
    import data

    data_dir = r.path("data")
    data.write_registry_dir(data_dir, seed, REG_DOCS, REG_VECS)
    inputs = {}
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as f:
            inputs[name] = hashlib.sha256(f.read()).hexdigest()[:16]
    ops = failed = 0
    setups, jobs, rss = [], [], []
    sessions = []
    while not jobs or sum(jobs) < seconds:
        try:
            res = r.run("registry", seed=seed, data_dir=data_dir,
                        clients=len(os.sched_getaffinity(0)), repeats=REG_REPEATS)
        except WorkerFailed as e:
            print(f"# registry worker failed: {e}", file=sys.stderr)
            ops += len(REG_QUERIES)
            failed += len(REG_QUERIES)
            break
        sessions.append(res)
        setups.append(res["setup_s"])
        rss.append(res["peak_rss_mb"])
        jobs.append(res["op_s"])
        ops += len(res["query_ok"])
        failed += sum(1 for _, ok in res["query_ok"] if not ok)
    e2e = None
    if jobs:
        job_s = statistics.median(jobs)
        e2e = {
            "setup_s": statistics.median(setups),
            "job_s": job_s,
            "docs_per_s": REG_DOCS / job_s,
            "peak_rss_mb": max(rss),
        }
    return {"ops": ops, "failed": failed, "e2e": e2e, "sessions": sessions,
            "samples": {"setup_s": setups, "job_s": jobs},
            "inputs": inputs}


WORKLOADS = {"kg_checkpointed": kg_checkpointed, "registry_dedup": registry_dedup}


# -- per-layer metrics (traced runs) ---------------------------------------

def _spans(res: dict | None) -> list[dict]:
    return (res or {}).get("spans", [])


def _events(res: dict | None) -> dict:
    return tracing.parse_eventlog(res["events"]) if res and res.get("events") else {}


def _empty_layers() -> dict[str, float]:
    m = {"session.get_spark_s": 0.0, "runner.resume_s": 0.0}
    for s in STAGES:
        for k in ("wall_s", "self_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes"):
            m[f"runner.{s}.{k}"] = 0.0
    for k in ("write_s", "manifest_s", "lease_s", "read_s", "bytes_written",
              "files_written", "manifest_calls"):
        m[f"catalog.{k}"] = 0.0
    for k in ("py_start_s", "py_init_s", "py_run_s", "arrow_sent_bytes",
              "arrow_returned_bytes"):
        m[f"extractors.{k}"] = 0.0
    for p in ("consensus", "triples"):
        for k in ("wall_s", "cpu_s", "gc_s", "shuffle_bytes"):
            m[f"pipeline.{p}.{k}"] = 0.0
    for q in REG_QUERIES:
        for k in ("wall_s", "cpu_s", "shuffle_bytes"):
            m[f"dedup.{q}.{k}"] = 0.0
    m["spark.failed_tasks"] = 0.0
    return m


def _add_python(m: dict, counters: list[dict]) -> None:
    for c in counters:
        m["extractors.py_start_s"] += c.get("py_start_ms", 0.0) / 1e3
        m["extractors.py_init_s"] += c.get("py_init_ms", 0.0) / 1e3
        m["extractors.py_run_s"] += c.get("py_run_ms", 0.0) / 1e3
        m["extractors.arrow_sent_bytes"] += c.get("arrow_sent_bytes", 0.0)
        m["extractors.arrow_returned_bytes"] += c.get("arrow_returned_bytes", 0.0)


def kg_layers(out: dict) -> tuple[dict, dict]:
    m = _empty_layers()
    job = out["cycles"][-1]
    ev = _events(job)
    # the resume starts after the job ends, in the same process; the
    # reference pass after both is spanned under ``pipeline``
    spans_job = [s for s in _spans(job) if s["start"] < job["resume"]["start"]]
    spans_res = [s for s in _spans(job) if s["start"] >= job["resume"]["start"]]
    sessions = [s["end"] - s["start"] for s in spans_job if s["layer"] == "session"]
    if sessions:
        m["session.get_spark_s"] = statistics.median(sessions)

    walls = {}
    selfs = tracing.self_times(spans_job, child_layer="catalog")
    for s in spans_job:
        if s["layer"] != "runner":
            continue
        wall = s["end"] - s["start"]
        walls[s["name"]] = wall
        g = ev.get(s["name"], {})
        m[f"runner.{s['name']}.wall_s"] = wall
        m[f"runner.{s['name']}.self_s"] = selfs[s["id"]]
        m[f"runner.{s['name']}.cpu_s"] = g.get("cpu_s", 0.0)
        m[f"runner.{s['name']}.gc_s"] = g.get("gc_s", 0.0)
        m[f"runner.{s['name']}.shuffle_bytes"] = g.get("shuffle_write_bytes", 0.0)
        m[f"runner.{s['name']}.spill_bytes"] = g.get("disk_spill_bytes", 0.0)

    for spans in (spans_job, spans_res):
        for s in tracing.top_level(spans, "catalog"):
            kind = s["name"].split(":")[0]
            m[f"catalog.{kind}_s"] += s["end"] - s["start"]
        m["catalog.manifest_calls"] += sum(
            1 for s in spans if s["name"] == "manifest:manifest_rows"
        )
    m["runner.resume_s"] = job["resume"]["op_s"]
    m["catalog.files_written"] = job["files_written"]
    m["catalog.bytes_written"] = job["bytes_written"]

    _add_python(m, [ev.get(s, {}) for s in STAGES])
    for p in ("consensus", "triples"):
        g = ev.get(f"pipeline.{p}", {})
        m[f"pipeline.{p}.wall_s"] = sum(
            s["end"] - s["start"] for s in _spans(job) if s["name"] == f"pipeline.{p}"
        )
        m[f"pipeline.{p}.cpu_s"] = g.get("cpu_s", 0.0)
        m[f"pipeline.{p}.gc_s"] = g.get("gc_s", 0.0)
        m[f"pipeline.{p}.shuffle_bytes"] = g.get("shuffle_write_bytes", 0.0)
    m["spark.failed_tasks"] = ev.get("*", {}).get("failed_tasks", 0.0)

    # blocking path s0 -> s1 -> s3 -> max(s4, s5 -> s6) -> s7 -> s8
    report = {}
    if all(s in walls for s in STAGES):
        path = (walls["s0_normalize"] + walls["s1_dedup"] + walls["s3_consensus"]
                + max(walls["s4_triples"], walls["s5_linked"] + walls["s6_canonical"])
                + walls["s7_edges"] + walls["s8_nodes"])
        setup = job["setup_s"]
        report = {
            "blocking_path_s": path,
            "job_s": job["op_s"],
            "gap_s": job["op_s"] - path,
            "setup_s": setup,
            "path_plus_setup_s": path + setup,
            "job_plus_setup_s": job["op_s"] + setup,
            "cpu_s_by_stage": {s: m[f"runner.{s}.cpu_s"] for s in STAGES},
        }
    return m, report


def registry_layers(out: dict) -> tuple[dict, dict]:
    """Per-query numbers from the timed round of the last session, each
    summed over the query's executions in the round."""
    m = _empty_layers()
    res = out["sessions"][-1]
    sessions = [s["end"] - s["start"] for s in _spans(res) if s["layer"] == "session"]
    if sessions:
        m["session.get_spark_s"] = statistics.median(sessions)
    ev = _events(res)
    for s in _spans(res):
        if s["layer"] != "dedup":
            continue
        g = ev.get(s["name"], {})
        m[f"{s['name']}.wall_s"] += s["end"] - s["start"]
        m[f"{s['name']}.cpu_s"] = g.get("cpu_s", 0.0)
        m[f"{s['name']}.shuffle_bytes"] = g.get("shuffle_write_bytes", 0.0)
    _add_python(m, [c for g, c in ev.items() if g.startswith("dedup.")])
    m["spark.failed_tasks"] = ev.get("*", {}).get("failed_tasks", 0.0)
    # the clients overlap, so the query walls sum to more than the round
    report = {"round_s": res["op_s"],
              "query_wall_sum_s": sum(m[f"dedup.{q}.wall_s"] for q in REG_QUERIES)}
    return m, report


LAYERS = {"kg_checkpointed": kg_layers, "registry_dedup": registry_layers}


# -- main ----------------------------------------------------------------

CONFIG = {"driver_mem": DRIVER_MEM, "kg_docs": KG_DOCS, "kg_buckets": KG_BUCKETS,
          "oracle_docs": ORACLE_DOCS, "reg_docs": REG_DOCS, "reg_vecs": REG_VECS,
          "reg_repeats": REG_REPEATS}


def _untraced_history(workload: str, source_digest: str) -> list[dict]:
    """Earlier untraced runs of the same workload, program and settings."""
    path = os.path.join(WORK_DIR, "history.jsonl")
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r for r in rows if r["workload"] == workload and not r["trace"] and r["e2e"]
            and r.get("config") == CONFIG and r["stamp"]["source_digest"] == source_digest]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    start = time.monotonic()
    _become_subreaper()
    root = os.getcwd()
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(root, f))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK_DIR, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    deployment = {
        "master": f"local[{nproc}]",
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        # the whole heap is committed and touched at start, so the JVM's
        # peak RSS does not depend on when the collector grew the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "clients": nproc if args.workload == "registry_dedup" else 1,
        "loop": "closed",
    }
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env.update({k: v for k, v in deployment.items() if k.isupper()})
    env["PYTHONPATH"] = os.pathsep.join([root, *filter(None, [env.get("PYTHONPATH")])])
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    probe_before = probe_gbps()
    stamp = host_stamp(root, env, deployment)
    conf = {k: v for k, v in deployment.items() if k.startswith("spark.")}
    workers = Workers(run_dir, env, conf, bool(args.trace), start + DEADLINE_S)
    out = WORKLOADS[args.workload](workers, args.seed, args.seconds)
    probe_after = probe_gbps()
    lo, hi = sorted((probe_before, probe_after))
    stamp["jvm"] = workers.versions
    stamp["probe_gbps"] = {"before": probe_before, "after": probe_after}
    # a throttled window shows as a collapsed or unstable memcpy rate
    stamp["throttled"] = lo < 1.0 or lo < 0.5 * hi

    ops, failed, e2e = out["ops"], out["failed"], out["e2e"]
    metrics: dict[str, dict] = {}
    report: dict = {}
    if e2e is not None:
        if args.trace:
            layers, report = LAYERS[args.workload](out)
            metrics = {k: {"value": float(v), "unit": _unit(k)} for k, v in layers.items()}
            base = _untraced_history(args.workload, stamp["source_digest"])
            if base:
                report["tracing_overhead"] = {
                    k: e2e[k] / statistics.median(r["e2e"][k] for r in base) - 1
                    for k in ("job_s",)
                }
                report["overhead_baseline_runs"] = len(base)
        else:
            e2e["success_rate"] = (ops - failed) / ops
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in e2e.items()}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "config": CONFIG, "stamp": stamp, "e2e": e2e, "ops": ops,
        "failed": failed, "samples": out.get("samples"), "report": report,
        "checks": [c.get("checks") for c in out.get("cycles", [])],
        "query_walls": [res["walls"] for res in out.get("sessions", [])],
        "inputs": out.get("inputs"),
        "workers": workers.timeline, "wall_s": time.monotonic() - start,
    }
    os.makedirs(WORK_DIR, exist_ok=True)
    with open(os.path.join(WORK_DIR, "history.jsonl"), "a", encoding="utf-8") as f:
        f.write(json.dumps(record) + "\n")
    if failed == 0 and e2e is not None:
        shutil.rmtree(run_dir, ignore_errors=True)  # logs stay for a failed run

    print("# stamp " + json.dumps(stamp))
    if report:
        print("# report " + json.dumps(report))
    correct = e2e is not None and failed == 0
    print(json.dumps({"correct": correct, "attempted": ops, "failed": failed,
                      "metrics": metrics}))
    return 0


UNITS = {"setup_s": "s", "job_s": "s", "docs_per_s": "1/s",
         "peak_rss_mb": "MB", "success_rate": "ratio"}


def _unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    suffix = name.rsplit(".", 1)[-1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_bytes") or suffix == "bytes_written":
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
