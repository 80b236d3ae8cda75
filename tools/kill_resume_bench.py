"""Kill-resume at scale (round-5 directive 7).

Exercises the north rule's resume semantics at bench scale with the
round-5 lease fence active: run the full KG pipeline over N synthetic
docs, SIGKILL the process mid-stage, re-run the identical command, and
verify

1. the resumed run recomputes ONLY what the killed run had not finished —
   per stage, ``computed_buckets(resumed) == n_buckets -
   manifest_rows_at_kill(stage)`` (zero recomputation of completed
   partitions, by manifest diff);
2. the dead writer's lease is taken over (the killed process leaves its
   lock behind; the successor breaks it after ``--writer-lease-sec`` via
   the atomic tombstone rename) — measured as takeover wait;
3. every stage table is value-identical to an uninterrupted control run
   into a separate directory (count + order-insensitive row-hash per
   table, via DuckDB).

The stage names, and which stages are global (one bucket), come from the
stage list ``ner_spark.plans.pipeline.KG_STAGES``.

Usage:
    python tools/kill_resume_bench.py [n_docs] [out_json]
        [--kill-stage s3_consensus] [--lease 45]

Writes one JSON report; exits nonzero on any failed invariant.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ner_spark.plans.pipeline import GLOBAL, KG_STAGES  # noqa: E402

N_BUCKETS = 32
#: stage -> buckets a complete run manifests
STAGES = {s.name: 1 if s.key == GLOBAL else N_BUCKETS for s in KG_STAGES}


def _manifest_buckets(out_dir: str) -> dict[str, int]:
    got = {}
    for s in STAGES:
        path = os.path.join(out_dir, f"{s}.manifest.jsonl")
        n = 0
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                n = sum(1 for ln in f if ln.strip())
        got[s] = n
    return got


def _cmd(n_docs: int, out_dir: str, lease: float) -> list[str]:
    return [
        sys.executable,
        "run_pipeline.py",
        "--n-docs",
        str(n_docs),
        "--out",
        out_dir,
        "--master",
        "local[32]",
        "--n-buckets",
        str(N_BUCKETS),
        "--writer-lease-sec",
        str(lease),
        "--writer-wait-sec",
        "600",
    ]


def _table_hash(out_dir: str, table: str) -> tuple[int, int]:
    """(row_count, order-insensitive 64-bit row-hash sum) via DuckDB."""
    import duckdb

    path = os.path.join(out_dir, table, "**", "*.parquet")
    con = duckdb.connect()
    n, h = con.sql(
        "SELECT count(*), coalesce(sum(hash(to_json(t))::HUGEINT), 0) "
        "FROM read_parquet(?, hive_partitioning=0) t",
        params=[path],
    ).fetchone()
    return int(n), int(h)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_docs", nargs="?", type=int, default=4_800_000)
    ap.add_argument("out_json", nargs="?", default="BENCH/kill_resume_r05.json")
    ap.add_argument("--kill-stage", default="s3_consensus")
    ap.add_argument("--lease", type=float, default=45.0)
    ap.add_argument("--work-root", default="/dev/shm/kill_resume")
    args = ap.parse_args()

    shutil.rmtree(args.work_root, ignore_errors=True)
    victim_dir = os.path.join(args.work_root, "victim")
    control_dir = os.path.join(args.work_root, "control")
    os.makedirs(victim_dir, exist_ok=True)

    report: dict = {
        "n_docs": args.n_docs,
        "kill_stage": args.kill_stage,
        "lease_sec": args.lease,
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
    }

    # -- run 1: victim, SIGKILLed once the kill stage has claimed its
    # fingerprint (i.e. it is mid-compute, prior stages complete)
    t0 = time.time()
    proc = subprocess.Popen(
        _cmd(args.n_docs, victim_dir, args.lease),
        cwd=REPO,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    marker = os.path.join(victim_dir, f"{args.kill_stage}.fingerprint")
    while proc.poll() is None and not os.path.exists(marker):
        time.sleep(0.5)
    if proc.poll() is not None:
        print("victim finished before the kill marker appeared", file=sys.stderr)
        return 2
    time.sleep(3.0)  # let the stage get properly mid-compute
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait()
    report["kill_after_sec"] = round(time.time() - t0, 1)
    at_kill = _manifest_buckets(victim_dir)
    report["manifest_buckets_at_kill"] = at_kill
    lock_left = [f for f in os.listdir(victim_dir) if f.endswith(".writer.lock")]
    report["stale_locks_left_by_kill"] = lock_left

    # -- run 2: resume the identical command
    t1 = time.time()
    out = subprocess.run(
        _cmd(args.n_docs, victim_dir, args.lease),
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    if out.returncode != 0:
        print(out.stderr[-4000:], file=sys.stderr)
        return 2
    resumed = json.loads(out.stdout.strip().splitlines()[-1])
    report["resume_wall_sec"] = round(time.time() - t1, 1)
    report["resumed_stages"] = resumed["stages"]

    # invariant 1: zero recomputation of completed partitions
    failures = []
    per_stage = {}
    for st in resumed["stages"]:
        name, computed = st["stage"], st["computed_buckets"]
        total = STAGES[name]
        expect = max(total - min(at_kill.get(name, 0), total), 0)
        per_stage[name] = {
            "done_at_kill": at_kill.get(name, 0),
            "computed_on_resume": computed,
            "expected": expect,
        }
        if computed != expect:
            failures.append(
                f"{name}: computed {computed}, expected {expect} "
                f"(manifest had {at_kill.get(name, 0)})"
            )
    report["per_stage"] = per_stage

    # -- run 3: uninterrupted control
    t2 = time.time()
    out = subprocess.run(
        _cmd(args.n_docs, control_dir, args.lease),
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    if out.returncode != 0:
        print(out.stderr[-4000:], file=sys.stderr)
        return 2
    control = json.loads(out.stdout.strip().splitlines()[-1])
    report["control_wall_sec"] = round(time.time() - t2, 1)
    report["control_docs_per_sec"] = control["docs_per_sec"]

    # invariant 3: value-identical stage tables
    tables = {}
    for t in STAGES:
        nv, hv = _table_hash(victim_dir, t)
        nc, hc = _table_hash(control_dir, t)
        tables[t] = {"rows": nv, "identical": (nv, hv) == (nc, hc)}
        if (nv, hv) != (nc, hc):
            failures.append(f"{t}: resumed ({nv},{hv}) != control ({nc},{hc})")
    report["tables"] = tables
    report["ok"] = not failures
    report["failures"] = failures

    os.makedirs(os.path.dirname(args.out_json) or ".", exist_ok=True)
    with open(args.out_json, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    shutil.rmtree(args.work_root, ignore_errors=True)
    return 0 if not failures else 1


if __name__ == "__main__":
    raise SystemExit(main())
