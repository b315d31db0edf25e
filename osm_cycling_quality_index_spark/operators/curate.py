"""Checkpointed, resumable corpus-curation pipeline.

The same four-stage composition the driver's ``corpus_curate`` query runs as
one lazy plan — near-dup group resolution, repetition filter,
decontamination, stratified sample + split — but materialized stage-by-stage
through :class:`~osm_cycling_quality_index_spark.checkpoint.SnapshotTable`
commits with :class:`~osm_cycling_quality_index_spark.audit.Audit` metrics,
so a run killed between stages resumes from the last committed snapshot
instead of recomputing from the raw corpus (north_rule: "resumable from
Iceberg snapshot checkpoints with per-partition lineage and row-count/latency
metrics emitted to an audit table").

At 100 TB the dedup stage is hours of work; restartability is the difference
between re-running a day and re-running a join.  Stage boundaries are chosen
where the data NARROWS (ids-only keep lists), so snapshots are cheap relative
to the work they checkpoint.

Determinism contract: every stage is a pure function of the input table (the
dedup group resolver, the repetition/decontamination predicates and the
hash-based sampler are all value-deterministic), so ``resumed output ==
single-run output`` exactly — pinned in tests/test_round6.py against both a
fresh run and the driver's un-checkpointed ``corpus_curate`` plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..audit import Audit
from ..checkpoint import SnapshotTable
from . import dedup
from .quality import decontaminate, dup_word_frac_col
from .sampling import hash_split, stratified_sample


class StageKilled(RuntimeError):
    """Injected fault: raised AFTER a stage's snapshot commit to simulate a
    driver/executor loss between stages (the test's kill switch)."""


def curate_pipeline(
    docs: DataFrame,
    ckpt_root: str,
    audit_path: str | None = None,
    rates: dict | None = None,
    default_rate: float = 0.5,
    rep_max: float = 0.6,
    train: float = 0.9,
    val: float = 0.05,
    fail_after: str | None = None,
) -> DataFrame:
    """Run (or resume) the curation pipeline over ``docs``
    (doc_id, text, source), checkpointing each stage to ``ckpt_root``.

    Stages (mirroring the driver's ``corpus_curate`` query exactly):

    1. ``keep_ids`` — doc_ids surviving near-dup group resolution
       (value-collapsed minhash groups, keepers only), the repetition
       filter and benchmark decontamination.  This is the expensive
       stage; its output is an ids-only frame.
    2. ``curated`` — stratified sample of the kept rows + hash split.

    A stage whose snapshot is committed and intact is NOT recomputed — the
    frame is read back from the snapshot.  Each computed stage is written
    once and audited from that write's task metrics, with no extra job.
    ``fail_after='keep_ids'`` raises :class:`StageKilled` right after that
    stage's commit, simulating a mid-run kill for the resume test.

    Returns the curated frame ``(doc_id, source, split)``.
    """
    spark = docs.sparkSession
    table = SnapshotTable(ckpt_root)
    audit = Audit(audit_path or f"{ckpt_root}/_audit.jsonl")

    done = table.committed("keep_ids")
    if done is not None:
        audit.record(stage="keep_ids", snapshot=done["id"], resumed=True)
    else:
        docs = docs.persist()
        release: list = []
        groups = dedup.minhash_groups(
            docs, mode="dictionary", verify="sketch", release=release)
        keep = groups.where(F.col("is_keeper") == 1).select("doc_id")
        # filter on the shared map-only dup_word_frac column — the full
        # repetition_stats frame would execute its bigram branch for a
        # discarded column (see quality.dup_word_frac_col)
        rep = docs.where(dup_word_frac_col() <= rep_max).select("doc_id")
        dec = decontaminate(
            docs, docs.where(F.col("doc_id") % 97 == 0), n=5,
        ).where(F.col("contaminated") == 0).select("doc_id")
        keep_ids = (
            keep.join(rep, "doc_id", "left_semi")
            .join(dec, "doc_id", "left_semi")
        )
        done = table.write(keep_ids, "keep_ids")
        audit.stage("keep_ids", done)
        for cb in release:
            cb()
        docs.unpersist()
        if fail_after == "keep_ids":
            raise StageKilled("killed after keep_ids commit")
    keep_path = done["path"]

    done = table.committed("curated")
    if done is not None:
        audit.record(stage="curated", snapshot=done["id"], resumed=True)
    else:
        # the snapshot, not the lazy frame, which would re-run the
        # minhash/decontaminate plan
        kept = docs.join(spark.read.parquet(keep_path), "doc_id", "left_semi")
        s = stratified_sample(
            kept, rates or {"src0": 1.0, "src1": 0.5, "src2": 0.25},
            default_rate=default_rate)
        curated = s.select(
            "doc_id", "source",
            hash_split(F.col("doc_id"), train=train, val=val).alias("split"),
        )
        done = table.write(curated, "curated")
        audit.stage("curated", done)
        if fail_after == "curated":
            raise StageKilled("killed after curated commit")

    return spark.read.parquet(done["path"])
