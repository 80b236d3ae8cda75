"""One benchmark process: a checkpointed job and its resume, or a registry pass.

Usage: python3 perfbench/worker.py <spec.json> <result.json>

``run.py`` starts each worker as a fresh process, with the deployment
environment (cores, driver heap, local dirs) already set, and reads the
result file it leaves. Timings exclude input generation and the
correctness checks, which run after the timed region.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import sys
import time

from tracing import JOB_GROUP, Tracer  # perfbench/tracing.py; the script dir leads sys.path

DEDUP_PREFIX = "dedup_"
T0 = time.perf_counter()
PHASES: dict[str, float] = {}


def phase(name: str) -> None:
    """Mark the end of a phase of this worker, in seconds since import."""
    PHASES[name] = time.perf_counter() - T0


def _versions(spark) -> dict:
    system = spark.sparkContext._jvm.java.lang.System
    return {"java": system.getProperty("java.version"),
            "java_vm": system.getProperty("java.vm.name"), "spark": spark.version}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def digest(df) -> str:
    """Order-insensitive row-set digest: row count plus the sum of one
    64-bit hash per row over the columns in name order."""
    from pyspark.sql import functions as F

    from ner_spark.sources.catalog import BUCKET_COL

    cols = sorted(c for c in df.columns if c != BUCKET_COL)
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    row = df.select(h.alias("h")).agg(F.count(F.lit(1)), F.sum("h")).first()
    return f"{row[0]}:{int(row[1] or 0) % 2**64:016x}"


def in_group(tracer: Tracer | None, sc, group: str, layer: str, fn, *args):
    """Call ``fn`` in a span whose Spark jobs carry job group ``group``."""
    if tracer is None:
        return fn(*args)
    sc.setJobGroup(group, group)
    try:
        return tracer.span(group, layer, fn, *args)
    finally:
        sc.setLocalProperty(JOB_GROUP, None)


# job-group prefix of runner stages: the resume's stages are kept apart
# from the job's in the event log
STAGE_GROUP = {"prefix": ""}


def install_kg_tracer(tracer: Tracer) -> None:
    """Spans around the public entry points of the layers the checkpointed
    job goes through; runner stages also tag their Spark jobs."""
    from ner_spark.plans import pipeline as pipeline_mod
    from ner_spark.plans.runner import Runner
    from ner_spark.sources.catalog import Catalog

    def stage_group(args, kwargs):
        return args[0].spark.sparkContext, STAGE_GROUP["prefix"] + args[1]

    for method in ("stage", "global_stage"):
        tracer.wrap(Runner, method, "runner", name=lambda a, k: a[1], job_group=stage_group)
    catalog_calls = {
        "write": ("write_buckets",),
        "manifest": (
            "manifest_rows", "completed_buckets", "record", "clear_manifest",
            "claim_fingerprint", "prune_unmanifested",
        ),
        "lease": ("try_acquire_writer", "owns_writer", "heartbeat_writer", "release_writer"),
        "read": ("read",),
    }
    for kind, methods in catalog_calls.items():
        for method in methods:
            tracer.wrap(Catalog, method, "catalog", name=lambda a, k, n=f"{kind}:{method}": n)
    tracer.wrap(pipeline_mod, "combined_mentions", "extractors")


class TimedSession:
    """Wraps ``get_spark`` to time session start. The first call also runs
    ``after_start(spark)``, timed separately, before the caller gets the
    session: the checkpointed job writes its input corpus there, inside the
    program's own session and before the job reads it."""

    def __init__(self, tracer: Tracer | None, after_start=None):
        from ner_spark import session

        self.setup_s = 0.0
        self.after_start_s = 0.0
        self.spark = None
        real = session.get_spark

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            spark = (
                tracer.span("get_spark", "session", real, *args, **kwargs)
                if tracer
                else real(*args, **kwargs)
            )
            if self.spark is None:
                self.setup_s = time.perf_counter() - t0
                self.spark = spark
                if after_start is not None:
                    t1 = time.perf_counter()
                    after_start(spark)
                    self.after_start_s = time.perf_counter() - t1
            return spark

        session.get_spark = timed
        self.get_spark = timed

    def untimed_s(self) -> float:
        return self.setup_s + self.after_start_s


def _run_job(spec: dict, timed: TimedSession) -> dict:
    """``run_pipeline.main`` over the spec's corpus and catalog; its wall
    (session start and ``after_start`` excluded) and stage counts."""
    import run_pipeline

    argv = [
        "--input", spec["corpus"], "--out", spec["catalog"],
        "--n-buckets", str(spec["n_buckets"]),
    ]
    out = io.StringIO()
    untimed = timed.untimed_s()
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(out):
        rc = run_pipeline.main(argv)
    wall = time.perf_counter() - t0
    if rc != 0:
        raise RuntimeError(f"run_pipeline exited with {rc}")
    program = json.loads(out.getvalue().strip().splitlines()[-1])
    return {
        "start": t0,
        "op_s": wall - (timed.untimed_s() - untimed),
        "computed": {s["stage"]: s["computed_buckets"] for s in program["stages"]},
        "program_metrics": program,
    }


def _listing(catalog: str) -> dict[str, tuple[int, int]]:
    """Every file under the catalog with its size and mtime."""
    out = {}
    for d, _, files in os.walk(catalog):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), catalog)] = (st.st_size, st.st_mtime_ns)
    return out


TRIPLE_KEY = ["subj", "pred", "obj", "doc_uid"]


def _oracle_check(spec: dict, s4, gaz_rows, pat_rows, combos) -> dict:
    """Pandas reference oracle over the first ``oracle_docs`` corpus docs;
    its triples must equal the checkpointed s4_triples of the same docs
    (a triple belongs to one doc_uid, the smallest doc id of its text)."""
    import pandas as pd

    from oracle import pandas_oracle as O

    docs = pd.read_parquet(spec["corpus"]).sort_values("doc_id").head(spec["oracle_docs"])
    want = O.run(docs.reset_index(drop=True), gaz_rows, pat_rows, combos, None)
    key = TRIPLE_KEY
    s4 = s4[s4["doc_uid"].isin(set(want["clean"]["doc_uid"]))]
    got_t = set(s4.itertuples(index=False, name=None))
    want_t = set(want["triples"][key].itertuples(index=False, name=None))
    return {"ok": got_t == want_t and len(want_t) > 0, "triples": len(want_t)}


def role_kg(spec: dict, tracer: Tracer | None) -> dict:
    """One process: session start and the seeded corpus (untimed); the
    checkpointed job (timed); its resume over the completed catalog
    (timed); then the in-memory ``KGPipeline.run`` reference pass and the
    correctness checks."""
    from pyspark.sql import functions as F

    from ner_spark import synth
    from ner_spark.plans.pipeline import KGPipeline

    def write_corpus(spark):
        synth.synth_docs(spark, spec["n_docs"], seed=spec["seed"]).write.mode(
            "overwrite"
        ).parquet(spec["corpus"])

    phase("import")
    timed = TimedSession(tracer, after_start=write_corpus)
    res = _run_job(spec, timed)
    phase("job")
    written = _listing(spec["catalog"])
    STAGE_GROUP["prefix"] = "resume:"
    resume = _run_job(spec, timed)
    phase("resume")

    spark = timed.spark
    gaz, pat = synth.synth_gazetteer(spark), synth.synth_patterns(spark)
    combos = [c["slots"] for c in synth.TRUSTED_COMBOS]
    pipe = KGPipeline(gazetteer=gaz, patterns=pat, trusted_combos=combos)
    sc = spark.sparkContext
    out = in_group(tracer, sc, "pipeline.consensus", "pipeline", pipe.run,
                   spark.read.parquet(spec["corpus"]))
    inmem = in_group(tracer, sc, "pipeline.triples", "pipeline", digest, out["triples"])
    pipe.unpersist()
    s4_df = spark.read.parquet(f"{spec['catalog']}/s4_triples")
    s4 = digest(s4_df)
    s4_rows = s4_df.select(*TRIPLE_KEY).toPandas()
    phase("inmem")
    gaz_rows = [
        (r["alias"], r["label"])
        for r in gaz.select("alias", "label", "weight")
        .orderBy(F.desc("weight"), "alias", "label")
        .collect()
    ]
    pat_rows = [
        (r["pattern_id"], r["regex"], r["label"])
        for r in pat.select("pattern_id", "regex", "label").orderBy("pattern_id").collect()
    ]
    res["peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    res["versions"] = _versions(spark)
    spark.stop()
    phase("stop")

    oracle = _oracle_check(spec, s4_rows, gaz_rows, pat_rows, combos)
    phase("oracle")
    res.update(setup_s=timed.setup_s, gen_s=timed.after_start_s, resume=resume)
    res["files_written"] = sum(1 for f in written if f.endswith(".parquet"))
    res["bytes_written"] = sum(v[0] for f, v in written.items() if f.endswith(".parquet"))
    res["digests"] = {"s4_triples": s4, "inmem_triples": inmem}
    res["oracle_triples"] = oracle["triples"]
    res["checks"] = {
        "s4_triples_equals_inmem": s4 == inmem,
        "s4_triples_equals_pandas_oracle": oracle["ok"],
        "job_computed_every_stage": all(res["computed"].values()),
        "resume_computed_nothing": not any(resume["computed"].values()),
        # same files, sizes and mtimes: every table's rows are unchanged
        "resume_left_catalog_unchanged": _listing(spec["catalog"]) == written,
    }
    return res


def role_registry(spec: dict, tracer: Tracer | None) -> dict:
    """One timed round in a fresh session: the seed-ordered dedup queries,
    ``repeats`` times over, from ``clients`` closed-loop client threads
    that force every result to pandas as tools/driver_sim.py does; then
    every result is checked against its DuckDB oracle."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from ner_spark import queries as Q
    from ner_spark.operators.scratch import release_scratch
    from ner_spark.queries_hash import register_ivf_oracle
    from tools.driver_sim import value_hash

    timed = TimedSession(tracer)
    spark = timed.get_spark("registry_dedup")
    sc = spark.sparkContext
    names = sorted(n for n in Q.Q if n.startswith(DEDUP_PREFIX))
    random.Random(spec["seed"]).shuffle(names)
    data = spec["data_dir"]

    def run_query(name):
        t0 = time.perf_counter()
        try:
            df = in_group(tracer, sc, f"dedup.{name}", "dedup",
                          lambda: Q.Q[name](spark, data).toPandas())
        except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
            print(f"query {name} failed: {e!r}", file=sys.stderr)
            return None, None
        return time.perf_counter() - t0, df

    todo = names * spec["repeats"]
    t0 = time.perf_counter()
    with ThreadPoolExecutor(spec["clients"]) as pool:
        results = list(pool.map(run_query, todo))
    res = {"setup_s": timed.setup_s, "op_s": time.perf_counter() - t0, "order": names,
           "walls": [[n, w] for n, (w, _) in zip(todo, results)]}
    # scratch is released once the round is over, never under a running query
    release_scratch()
    phase("round")
    res["peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    res["versions"] = _versions(spark)
    spark.stop()
    phase("stop")

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    register_ivf_oracle(data)  # oracles with literals trained from this data
    want = {}
    for name in names:
        if name in Q.ORACLE:
            odf = con.execute(Q.ORACLE[name]).df()
            want[name] = (len(odf), sorted(odf.columns), value_hash(odf))
    res["query_ok"] = [
        [n, df is not None and (len(df), sorted(df.columns), value_hash(df)) == want.get(n)]
        for n, (_, df) in zip(todo, results)
    ]
    phase("oracle")
    return res


ROLES = {
    "kg": role_kg,
    "registry": role_registry,
}


def main(argv: list[str]) -> int:
    spec_path, result_path = argv
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    tracer = Tracer() if spec["trace"] else None
    if tracer is not None and spec["role"] == "kg":
        install_kg_tracer(tracer)
    res = ROLES[spec["role"]](spec, tracer)
    phase("done")
    res["phases"] = PHASES
    if tracer is not None:
        res["spans"] = tracer.to_json()
    with open(result_path, "w", encoding="utf-8") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
