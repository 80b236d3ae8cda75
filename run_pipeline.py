"""spark-submit entry point: resumable KG-construction pipeline.

    spark-submit --py-files kg.zip run_pipeline.py \
        --n-docs 1000000 --out /tmp/kg_out --n-buckets 64

or plain ``python run_pipeline.py`` (builds its own local session). The
stages (SURVEY.md §7: normalize -> dedup -> consensus mentions -> triples
-> linking -> canonicalization -> graph edges -> nodes) are defined in one
place, the stage list ``KG_STAGES`` in ``ner_spark/plans/pipeline.py``;
this script runs that list through the checkpointing Runner
(``KGPipeline.run_checkpointed``). Each per-doc stage checkpoints per hash
bucket; re-running after a kill skips completed buckets (see the
"skipped_buckets" counts in the metrics line). The input corpus is the
deterministic synthetic interleaved-doc generator (same rows at any
parallelism), or ``--input`` parquet in the input_hint schema.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--n-docs", type=int, default=100_000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--input", default=None, help="parquet dir in input_hint schema")
    p.add_argument("--out", required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument(
        "--writer-lease-sec", type=float, default=600.0,
        help="writer-fence lease; a successor of a KILLED run waits this "
        "long before breaking the dead writer's lock (live writers "
        "heartbeat every lease/3, so short leases are safe)",
    )
    p.add_argument("--writer-wait-sec", type=float, default=600.0)
    p.add_argument(
        "--compact",
        action="store_true",
        help="after the run, rewrite every catalog table to one file per "
        "bucket (small-file maintenance; crash-safe staging swap)",
    )
    args = p.parse_args(argv)

    from ner_spark import synth
    from ner_spark.plans.pipeline import KGPipeline
    from ner_spark.plans.runner import Runner
    from ner_spark.session import get_spark
    from ner_spark.sources.catalog import Catalog

    t_start = time.time()
    # FAIR job scheduling so the independent DAG branches (s4 and s5->s6)
    # interleave at task granularity instead of queueing FIFO
    spark = get_spark(
        "kg_pipeline",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    session_startup = time.time() - t_start

    if args.input:
        import glob as _glob
        import os as _os

        docs = spark.read.parquet(args.input)
        # fingerprint the file listing (name+size+mtime) so a changed input
        # invalidates downstream checkpoints (Iceberg analogue: snapshot id)
        import hashlib as _hashlib

        listing = sorted(
            (p, _os.path.getsize(p), int(_os.path.getmtime(p)))
            for p in _glob.glob(f"{args.input}/**/*.parquet", recursive=True)
        )
        digest = _hashlib.sha256(repr(listing).encode()).hexdigest()[:12]
        input_fp = f"path:{args.input}:{digest}"
    else:
        docs = synth.synth_docs(spark, args.n_docs, seed=args.seed)
        input_fp = f"synth:{args.n_docs}:{args.seed}"

    gaz = synth.synth_gazetteer(spark)
    pat = synth.synth_patterns(spark)
    combos = [c["slots"] for c in synth.TRUSTED_COMBOS]
    pipe = KGPipeline(gazetteer=gaz, patterns=pat, trusted_combos=combos)

    runner = Runner(
        spark=spark,
        catalog=Catalog(args.out),
        n_buckets=args.n_buckets,
        writer_lease_sec=args.writer_lease_sec,
        writer_wait_sec=args.writer_wait_sec,
    )
    fp0 = pipe.run_checkpointed(docs, runner, input_fp)["s0_normalize"][1]

    # input size from the s0 manifest (avoids recomputing the input scan)
    n_docs = sum(
        r["rows"]
        for r in runner.catalog.manifest_rows("s0_normalize")
        if r["fingerprint"] == fp0
    )
    compaction = None
    if args.compact:
        import os as _os

        compaction = {}
        for table in sorted(
            d
            for d in _os.listdir(args.out)
            if _os.path.isdir(_os.path.join(args.out, d))
            and not d.endswith(".compact")  # leftover staging from a crash
        ):
            compaction[table] = runner.catalog.compact_table(spark, table)

    wall = time.time() - t_start
    metrics = {
        "n_docs": n_docs,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        # fixed JVM/session cost, included in wall_sec; reported separately
        # so scaling analyses can decompose it (a long-lived cluster session
        # pays it once, not per job)
        "session_startup_sec": round(session_startup, 2),
        # sort: concurrent branches append in completion order
        "stages": sorted(runner.metrics_json(), key=lambda r: r["stage"]),
    }
    if compaction is not None:
        metrics["compaction"] = compaction
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
