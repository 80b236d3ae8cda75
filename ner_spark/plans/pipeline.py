"""The KG chain (SURVEY.md §7 target architecture), written once.

``KG_STAGES`` lists S0-S8 in order: name, bucket key, input stages and the
transform. It is the only place the chain's transforms are composed. Two
functions execute it:

- ``KGPipeline.run`` evaluates it in memory, up to ``s4_triples``;
- ``KGPipeline.run_checkpointed`` runs it through a ``plans.runner.Runner``,
  which checkpoints every stage per hash bucket so a killed run resumes
  without recomputation.

The transforms are pure DataFrame composition; the Runner does all I/O.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extractors.casen import rule_mentions
from ..extractors.combined import combined_mentions, rule_payload
from ..extractors.model_stub import model_mentions
from ..operators import consensus as C
from ..operators import relations as R
from ..operators.canonicalize import canonical_entities
from ..operators.clean import dedup_docs, normalize_docs
from ..operators.corrections import apply_corrections
from ..operators.linking import link_mentions

if TYPE_CHECKING:
    from .runner import Runner

#: bucket key of a stage that checkpoints all-or-nothing
GLOBAL = "global"
#: the stage whose transform runs the fused extractor
EXTRACT_STAGE = "s3_consensus"


@dataclass(frozen=True)
class Stage:
    """One stage of the chain. ``transform(pipe, *inputs)`` gets the input
    tables in ``inputs`` order; ``"docs"`` is the raw corpus. A checkpointed
    per-bucket stage hands the transform only the missing buckets of its
    FIRST input (bucketed on ``key``) and the other inputs whole.
    ``cache`` marks an output read by several consumers: the in-memory run
    caches it (checkpointed outputs are tables already)."""

    name: str
    key: str
    inputs: tuple[str, ...]
    transform: Callable[..., DataFrame]
    cache: bool = False


def _edges(pipe: KGPipeline, triples: DataFrame, linked: DataFrame,
           canon: DataFrame) -> DataFrame:
    """S7: triples with canonical subject ids where linkable."""
    subj_link = linked.filter(F.col("entity_id").isNotNull()).select(
        F.col("doc_uid"), F.col("NE").alias("subj"),
        F.col("entity_id").alias("subj_entity"),
    ).dropDuplicates(["doc_uid", "subj"])
    # no broadcast hints: subj_link/canon scale with the data — the
    # doc_uid join is co-located and AQE picks broadcast when small
    return (
        triples.join(subj_link, ["doc_uid", "subj"], "left")
        .join(canon.withColumnRenamed("entity_id", "subj_entity"), "subj_entity", "left")
        .select("subj", "pred", "obj", "doc_uid", "method", "subj_entity", "canonical_id")
    )


def _nodes(pipe: KGPipeline, edges: DataFrame) -> DataFrame:
    """S8: one row per subject surface with its canonical id, instance
    labels, relation-edge count, and document support. Keyed (and
    re-bucketed) on ``subj``, so every group is complete within its bucket
    and the aggregation is bucket-resumable — the map-side partial agg plus
    the bucket exchange is the whole cost."""
    return edges.groupBy("subj").agg(
        F.coalesce(
            F.max("canonical_id"),
            F.max("subj_entity"),
            F.concat(F.lit("surf:"), F.first("subj")),
        ).alias("node_id"),
        F.concat_ws(
            "|",
            F.array_sort(F.collect_set(F.when(F.col("pred") == "instance_of", F.col("obj")))),
        ).alias("labels"),
        F.sum((F.col("pred") != "instance_of").cast("long")).alias("n_rel_edges"),
        F.countDistinct("doc_uid").alias("n_docs"),
    )


KG_STAGES: tuple[Stage, ...] = (
    Stage("s0_normalize", "doc_id", ("docs",), lambda p, docs: normalize_docs(docs)),
    Stage("s1_dedup", "text", ("s0_normalize",), lambda p, s0: dedup_docs(s0), cache=True),
    Stage("s3_consensus", "doc_uid", ("s1_dedup",), lambda p, clean: p.consensus(clean),
          cache=True),
    Stage("s4_triples", "doc_uid", ("s3_consensus", "s1_dedup"),
          lambda p, mentions, clean: R.extract_triples(mentions, clean)),
    Stage("s5_linked", "doc_uid", ("s3_consensus",),
          lambda p, mentions: link_mentions(mentions.drop("files_id"), p.gazetteer)),
    Stage("s6_canonical", GLOBAL, ("s5_linked",), lambda p, linked: canonical_entities(linked)),
    Stage("s7_edges", "doc_uid", ("s4_triples", "s5_linked", "s6_canonical"), _edges),
    Stage("s8_nodes", "subj", ("s7_edges",), _nodes),
)


def stages_until(name: str) -> tuple[Stage, ...]:
    """The prefix of ``KG_STAGES`` that ends with stage ``name``."""
    names = [s.name for s in KG_STAGES]
    return KG_STAGES[: names.index(name) + 1]


def _ancestors(stages: tuple[Stage, ...]) -> dict[str, set[str]]:
    anc: dict[str, set[str]] = {}
    for s in stages:
        anc[s.name] = set().union(*({i} | anc.get(i, set()) for i in s.inputs))
    return anc


@dataclass
class KGPipeline:
    """Configuration the stage transforms read (dictionaries, combos)."""

    gazetteer: DataFrame
    patterns: DataFrame
    trusted_combos: list[list[str]]
    corrections: DataFrame | None = None
    labels_priority: tuple[str, ...] = ("PER",)
    num_partitions: int | None = None
    extra_sources: dict = field(default_factory=dict)
    _cached: list = field(default_factory=list, repr=False)
    # the extractor payload run_checkpointed prefetches while it runs
    _payload: Future | None = field(default=None, repr=False)

    def mentions_by_source(self, clean_docs: DataFrame) -> dict[str, DataFrame]:
        """Per-source mention tables (three separate Arrow passes) — kept for
        operator-level tests; the pipeline hot path uses the fused one-pass
        extractor below."""
        return {
            "casEN": rule_mentions(clean_docs, self.gazetteer, self.patterns),
            "spaCy": model_mentions(clean_docs, self.gazetteer, method="spaCy"),
            "stanza": model_mentions(clean_docs, self.gazetteer, method="stanza"),
            **self.extra_sources,
        }

    def ranked_mentions(self, clean_docs: DataFrame) -> DataFrame:
        # the dictionaries run_checkpointed prefetched, else collected now
        payload = (
            self._payload.result() if self._payload is not None
            else rule_payload(self.gazetteer, self.patterns)
        )
        return combined_mentions(clean_docs, payload)

    def consensus(self, clean_docs: DataFrame) -> DataFrame:
        if self.extra_sources:
            # extend the fold order with the extra sources (registration
            # order = rank order after the built-ins): fuse() iterates its
            # source_order, so extras absent from it would silently never
            # enter the union
            by_source = self.mentions_by_source(clean_docs)
            order = C.SOURCE_ORDER + tuple(
                k for k in self.extra_sources if k not in C.SOURCE_ORDER
            )
            fused = C.fuse(
                by_source, source_order=order, num_partitions=self.num_partitions
            )
        else:
            fused = C.fuse_ranked(
                self.ranked_mentions(clean_docs), num_partitions=self.num_partitions
            )
        voted = C.priority_vote(fused, self.labels_priority)
        promoted = C.promote_trusted(voted, self.trusted_combos)
        with_ids = promoted.join(
            clean_docs.select("doc_uid", "files_id"), "doc_uid", "left"
        )
        if self.corrections is not None:
            with_ids = apply_corrections(with_ids, self.corrections)
        return with_ids

    def run(self, docs: DataFrame) -> dict[str, DataFrame]:
        """The chain in memory up to ``s4_triples``: lazy ``clean``,
        ``mentions`` and ``triples`` frames (the first two cached)."""
        tables = {"docs": docs}
        for s in stages_until("s4_triples"):
            df = s.transform(self, *(tables[i] for i in s.inputs))
            if s.cache:
                df = df.cache()
                self._cached.append(df)
            tables[s.name] = df
        # populate both caches eagerly before handing out the triples plan:
        # triples fans out into three consumers of `mentions` (instance +
        # both self-join branches), and when one action forces them against
        # a cold cache the scheduler runs the whole extraction subtree once
        # per branch concurrently — none of them hits the still-materializing
        # cache (measured 3x the chain cost at 200k docs). One count() here
        # is one pass over the cached plan (clean materializes beneath it)
        # and turns every downstream consumer into a cache read.
        tables["s3_consensus"].count()
        return {
            "clean": tables["s1_dedup"],
            "mentions": tables["s3_consensus"],
            "triples": tables["s4_triples"],
        }

    def run_checkpointed(
        self, docs: DataFrame, runner: Runner, input_fingerprint: str,
        until: str = KG_STAGES[-1].name,
    ) -> dict[str, tuple[DataFrame, str]]:
        """The chain through ``runner`` up to stage ``until``; returns
        stage name -> (table, fingerprint).

        Every stage whose inputs are complete is submitted at once, so
        independent branches (s4 and s5 -> s6) overlap — under FAIR
        scheduling their tasks interleave and each branch's checkpoint-write
        barrier hides behind the other's compute (SparkContext job
        submission is thread-safe; the stages write disjoint tables). A
        stage's fingerprint chains those of its inputs, leaving out an input
        that another input already derives from (s4 reads s1 through s3, s7
        reads s5 through s6): it adds nothing to the lineage.

        Fingerprints are pure hashes, so all of them are known before S0
        runs. When ``EXTRACT_STAGE`` has buckets left to compute, the
        extractor's dictionaries (``rule_payload``) are collected on the
        same pool, beside S0 and S1, instead of in series at the head of
        S3; S3's transform waits on that future. A resume whose S3 is
        complete starts no payload job."""
        stages = stages_until(until)
        anc = _ancestors(stages)
        in_fp, fp = {}, {"docs": input_fingerprint}
        for s in stages:
            in_fp[s.name] = "".join(
                fp[i] for i in s.inputs if not any(i in anc.get(j, ()) for j in s.inputs)
            )
            fp[s.name] = runner.fingerprint(s.name, in_fp[s.name], bucketed=s.key != GLOBAL)
        tables: dict[str, tuple[DataFrame, str]] = {"docs": (docs, input_fingerprint)}

        def run_stage(s: Stage, ins: list[DataFrame]) -> tuple[DataFrame, str]:
            if s.key == GLOBAL:
                return runner.global_stage(
                    s.name, lambda: s.transform(self, *ins), input_fingerprint=in_fp[s.name]
                )
            return runner.stage(
                s.name, ins[0], lambda part: s.transform(self, part, *ins[1:]),
                key=s.key, input_fingerprint=in_fp[s.name],
            )

        prefetch = (
            EXTRACT_STAGE in fp
            and not self.extra_sources
            and not set(range(runner.n_buckets))
            <= runner.catalog.completed_buckets(EXTRACT_STAGE, fp[EXTRACT_STAGE])
        )
        pending, running = list(stages), {}
        try:
            with ThreadPoolExecutor(max_workers=len(stages)) as pool:
                if prefetch:
                    self._payload = pool.submit(rule_payload, self.gazetteer, self.patterns)
                while pending or running:
                    for s in [s for s in pending if all(i in tables for i in s.inputs)]:
                        pending.remove(s)
                        ins = [tables[i][0] for i in s.inputs]
                        running[pool.submit(run_stage, s, ins)] = s
                    done, _ = wait(running, return_when=FIRST_COMPLETED)
                    for fut in done:
                        tables[running.pop(fut).name] = fut.result()
        finally:
            self._payload = None
        del tables["docs"]
        return tables

    def unpersist(self) -> None:
        """Release the stage caches ``run`` created. Call after the outputs
        are materialized — in a long-running application the caches would
        otherwise pin executor storage for the life of the session."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


def summarize(df: DataFrame, cols: list[str]) -> DataFrame:
    """D6 self-diagnostics: frequency reports per column value."""
    outs = [
        df.groupBy(F.lit(c).alias("column"), F.col(c).cast("string").alias("value"))
        .count()
        for c in cols
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
