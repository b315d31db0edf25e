"""One write per stage: with ``--checkpoint`` the committed snapshot is the
CLI's own output, the audit is read from that write's task metrics without
a Spark job, and resume trusts only intact snapshots."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

import main

SF = "/root/testdata/sf0.001"
ROADS = ["--synth-roads", "25"]


def _main(*argv: str) -> None:
    assert main.main([*ROADS, *argv]) == 0


def _manifest(ckpt) -> list[dict]:
    with open(os.path.join(ckpt, "_manifest.json")) as fh:
        return json.load(fh)["snapshots"]


def _audit(out) -> list[dict]:
    with open(os.path.join(out, "audit.jsonl")) as fh:
        return [json.loads(line) for line in fh]


def _footer_rows(path) -> dict[str, int]:
    """Rows per part file, from the parquet footers."""
    return {f: pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path) if f.startswith("part-")}


def _codecs(path) -> set[str]:
    """The compression codecs of every column chunk of every part file."""
    return {md.row_group(g).column(c).compression
            for f in os.listdir(path) if f.startswith("part-")
            for md in [pq.ParquetFile(os.path.join(path, f)).metadata]
            for g in range(md.num_row_groups) for c in range(md.num_columns)}


def _check_against_footers(entry: dict, rec: dict) -> None:
    rows = _footer_rows(entry["path"])
    assert _codecs(entry["path"]) == {"ZSTD"}, entry["path"]
    assert sorted(rows) == sorted(entry["files"])
    assert rec["snapshot"] == entry["id"]
    assert rec["rows"] == entry["rows"] == sum(rows.values())
    assert rec["max_partition_rows"] == max(rows.values())
    assert rec["nonempty_partitions"] == sum(1 for n in rows.values() if n)
    # each task writes one file named after its partition; an empty
    # partition writes none, so the files bound the partition count
    parts = {int(f.split("-")[1]) for f in rows}
    assert len(parts) == len(rows) and max(parts) < rec["partitions"]
    assert rec["files"] == len(rows) and rec["bytes"] == sum(entry["files"].values())


def test_stage_audit_starts_no_job(spark, tmp_path, audit_calls):
    """Auditing ``main.py``'s stages (with and without ``--checkpoint``) and
    ``curate_pipeline``'s starts no Spark job, each record's figures equal
    the written files' parquet footers, and every column chunk of every
    part file is zstd-compressed.  ``main.py`` leaves no frame
    persisted."""
    from osm_cycling_quality_index_spark.operators.curate import curate_pipeline
    from osm_cycling_quality_index_spark.operators.dedup import release_session_pinned

    release_session_pinned(spark)
    spark.catalog.clearCache()
    plain = str(tmp_path / "plain")
    _main("--synth-images", "200", "--output", plain)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    assert not os.path.exists(os.path.join(plain, "_manifest.json"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _main("--output", out, "--checkpoint", ckpt)
    # the committed snapshot is the output directory itself
    [entry] = _manifest(ckpt)
    assert entry["path"] == os.path.join(out, "scored")
    assert sorted(os.listdir(ckpt)) == ["_manifest.json"]

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text", "source")
    curate_pipeline(docs, str(tmp_path / "curate"))

    assert [n for n, *_ in audit_calls] == [
        "scored", "geotag", "way_tiles", "scored", "keep_ids", "curated"]
    for name, entry, rec, jobs in audit_calls:
        assert jobs == 0, name
        _check_against_footers(entry, rec)


def test_snappy_snapshot_still_resumes(spark, tmp_path):
    """A stage committed as snappy parquet, as snapshots were written before
    zstd became the table's codec, is still trusted and read, next to a
    zstd stage of the same table."""
    from osm_cycling_quality_index_spark.checkpoint import SnapshotTable, data_files

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    table = SnapshotTable(ckpt, data_root=out)
    df = spark.range(0, 500, 1, 3).selectExpr("id", "id * 0.25 AS lon")
    new = table.write(df, "new")

    old_path = os.path.join(out, "old")
    df.write.mode("overwrite").option("compression", "snappy").parquet(old_path)
    table._commit({"id": "legacy", "stage": "old", "path": old_path,
                   "files": data_files(old_path), "rows": 500})
    assert _codecs(old_path) == {"SNAPPY"} and _codecs(new["path"]) == {"ZSTD"}

    assert table.committed("old")["id"] == "legacy"
    assert table.committed("new")["id"] == new["id"]
    want = sorted(tuple(r) for r in df.collect())
    for stage in ("old", "new"):
        assert sorted(tuple(r) for r in table.read_latest(spark, stage).collect()) == want


class Killed(Exception):
    pass


def test_kill_before_commit_is_recomputed(spark, tmp_path, monkeypatch):
    """A run killed after a stage's data write but before its manifest
    commit leaves no entry, so the resume recomputes the stage."""
    from osm_cycling_quality_index_spark.checkpoint import SnapshotTable

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def killed(self, entry):
        raise Killed(entry["stage"])

    with monkeypatch.context() as m:
        m.setattr(SnapshotTable, "_commit", killed)
        with pytest.raises(Killed):
            main.main([*ROADS, "--output", out, "--checkpoint", ckpt])
    written = _footer_rows(os.path.join(out, "scored"))
    assert sum(written.values()) > 0
    assert SnapshotTable(ckpt).latest() is None

    _main("--output", out, "--checkpoint", ckpt)
    [entry] = _manifest(ckpt)
    assert entry["stage"] == "scored" and entry["rows"] == sum(written.values())
    assert sorted(_footer_rows(entry["path"])) == sorted(entry["files"])
    assert not any(r.get("resumed") for r in _audit(out))


def test_damaged_snapshot_is_recomputed(spark, tmp_path):
    """A committed entry whose part file was deleted or truncated is not
    read: the resume recomputes the stage and commits a new snapshot with
    every row."""
    ckpt = str(tmp_path / "ckpt")
    _main("--output", str(tmp_path / "a"), "--checkpoint", ckpt)
    [first] = _manifest(ckpt)
    rows = first["rows"]

    def damage(path, how):
        name = sorted(_footer_rows(path))[0]
        if how == "delete":
            os.remove(os.path.join(path, name))
        else:
            with open(os.path.join(path, name), "r+b") as fh:
                fh.truncate(os.path.getsize(fh.name) // 2)

    for k, how in enumerate(("delete", "truncate")):
        damage(_manifest(ckpt)[-1]["path"], how)
        out = str(tmp_path / f"resume{k}")
        _main("--output", out, "--checkpoint", ckpt)
        snaps = _manifest(ckpt)
        assert len(snaps) == k + 2, how
        assert snaps[-1]["path"] == os.path.join(out, "scored")
        assert sum(_footer_rows(snaps[-1]["path"]).values()) == snaps[-1]["rows"] == rows
        assert not any(r.get("resumed") for r in _audit(out)), how


def test_resume_in_own_output_keeps_snapshot(spark, tmp_path):
    """A resume whose --output is the snapshot's own directory succeeds and
    leaves the snapshot untouched."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _main("--output", out, "--checkpoint", ckpt)
    scored = os.path.join(out, "scored")

    def state():
        files = {f: (st.st_ino, st.st_size, st.st_mtime_ns)
                 for f in os.listdir(scored) for st in [os.stat(os.path.join(scored, f))]}
        return files, _manifest(ckpt)

    before = state()
    _main("--output", out, "--checkpoint", ckpt)
    assert state() == before
    [entry] = before[1]
    last = _audit(out)[-1]
    assert (last["stage"], last["snapshot"], last["resumed"]) == ("scored", entry["id"], True)
