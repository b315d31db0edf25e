"""spark-submit entry point (north_rule launch mode).

Runs the CQI pipeline — optionally with the image geotag/kNN/tile stages —
with snapshot checkpoints between stages and an audit trail:

    spark-submit --py-files engine.zip main.py \
        --ways data/way_import.geojson --output out/ --checkpoint ckpt/

    # or on synthetic data (no inputs needed):
    python main.py --synth-roads 200 --synth-images 2000 --output out/

Each stage is written once, to <output>/<stage>; with --checkpoint that
write is the stage's snapshot, committed in the manifest under the
checkpoint dir, and the audit is read from its task metrics.  Resume:
re-running with the same --checkpoint dir skips stages whose snapshots are
committed and intact; it copies them to a new --output, and leaves them be
when --output is their own directory.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys


def build_args():
    p = argparse.ArgumentParser(description="OSM cycling-quality Spark engine")
    p.add_argument("--ways", help="ways input (.geojson or parquet dir)")
    p.add_argument("--images", help="geotagged image parquet (input_hint schema)")
    p.add_argument("--synth-roads", type=int, default=0, help="synthesize N roads instead of --ways")
    p.add_argument("--synth-images", type=int, default=0, help="synthesize N images instead of --images")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", help="snapshot-table root for resumable stages")
    p.add_argument("--audit", default=None, help="audit jsonl path (default <output>/audit.jsonl)")
    p.add_argument("--master", default=None)
    p.add_argument("--geojson-out", action="store_true", help="also write GeoJSON features")
    return p


def main(argv=None) -> int:
    args = build_args().parse_args(argv)
    from osm_cycling_quality_index_spark.session import get_spark

    spark = get_spark(app_name="cqi-main", master=args.master)
    try:
        return _run(spark, args)
    finally:
        # frames and broadcasts the operators pinned for this run (e.g. the
        # shuffle form of the geotag join) are not used once its outputs
        # are written
        from osm_cycling_quality_index_spark.operators.dedup import release_session_pinned

        release_session_pinned(spark)


def _run(spark, args) -> int:
    from osm_cycling_quality_index_spark.audit import Audit
    from osm_cycling_quality_index_spark.checkpoint import SnapshotTable
    from osm_cycling_quality_index_spark.operators import images as I
    from osm_cycling_quality_index_spark.operators.pipeline import cqi_pipeline
    from osm_cycling_quality_index_spark.sources import geojson, synth

    out = args.output.rstrip("/")
    audit = Audit(args.audit or f"{out}/audit.jsonl")
    table = SnapshotTable(args.checkpoint, data_root=out)

    def stage(name, build) -> str:
        """Write stage ``name`` once, to ``<output>/<name>``, or resume it
        from its committed snapshot; returns the output directory."""
        path = os.path.join(out, name)
        done = table.committed(name)
        if done is None:
            audit.stage(name, table.write(build(), name))
            return path
        if os.path.realpath(done["path"]) != os.path.realpath(path):
            shutil.rmtree(path, ignore_errors=True)
            shutil.copytree(done["path"], path)
        audit.record(stage=name, snapshot=done["id"], resumed=True)
        return path

    # ---- ways input
    if args.synth_roads:
        ways = synth.ways_df(spark, n_roads=args.synth_roads)
    elif args.ways and args.ways.endswith(".geojson"):
        ways = geojson.drop_duplicate_geometries(geojson.read_geojson(spark, args.ways))
    elif args.ways:
        ways = spark.read.parquet(args.ways)
    else:
        print("need --ways or --synth-roads", file=sys.stderr)
        return 2

    # ---- stage: CQI scoring
    scored_path = stage("scored", lambda: cqi_pipeline(ways))
    if args.geojson_out:
        scored = spark.read.parquet(scored_path)
        if "geometry" in scored.columns:
            export = scored
        else:
            # offset branch rows keep their parent way's id, so a left join
            # re-attaches the centerline geometry and the export keeps every
            # feature (offset cycleway/sidewalk rows included)
            export = scored.join(ways.select("id", "geometry"), "id", "left")
        geojson.write_geojson_features(export, f"{out}/scored_geojson")
        # S7: graduated QGIS style over `index`, same classes/colors as the
        # reference's styles/index.qml
        from osm_cycling_quality_index_spark.sources.style import write_qml_style

        write_qml_style(f"{out}/scored_geojson.qml")

    # ---- image stages
    if args.synth_images or args.images:
        if args.synth_images:
            wpdf = synth.ways_pdf(n_roads=args.synth_roads or 60)
            imgs = synth.images_df(spark, wpdf, n_images=args.synth_images)
        else:
            imgs = spark.read.parquet(args.images)
        stage("geotag", lambda: I.geotag_join(imgs.select("image_id", "lon", "lat"), ways))
        stage("way_tiles", lambda: I.way_tile_assignment(ways))

        checks = I.verify_payloads(imgs)
        bad = checks.where(~checks.ok | ~checks.caption_ok).count()
        audit.record(stage="payload_verify", bad_rows=bad)
        if bad:
            print(f"[!] {bad} image payloads failed verification", file=sys.stderr)
            return 1
    print("done")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
