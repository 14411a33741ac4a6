"""spark-submit entrypoint: run the KG-construction pipeline end-to-end.

Usage (local mode; on a cluster add --py-files ner_spark.zip):

    # fast slice: transcripts → fused tag+extract → triples parquet
    spark-submit run_pipeline.py --input <transcripts.parquet> \
        --output <out_dir>

    # full pipeline under the manifest/resume protocol: mentions,
    # triples, relations, surface_nodes, link_edges, assignment, nodes,
    # edges, canonical_triples — re-running resumes from the last
    # complete stage
    spark-submit run_pipeline.py --input <...> --output <...> \
        --stages all [--run-id r1] [--no-resume]

Reads the transcripts table (conv_id, turn_idx, role, text, tool, ts);
emits one JSON line per materialized stage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--stages",
        default="extract",
        help="'extract' (default: fused tag+extract → triples), 'all' "
        "(every manifest stage incl. linking, CC, graph materialization) "
        "or 'incremental' (merge --input as a DELTA of new conversations "
        "into --base-run-id's published state; requires --base-run-id)",
    )
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument(
        "--base-run-id",
        default=None,
        help="for --stages incremental: the completed run whose "
        "surface_nodes/assignment/relations stages carry the KG state",
    )
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--show", type=int, default=5)
    args = ap.parse_args()

    from ner_spark.session import get_spark

    spark = get_spark(master=args.master, app_name="ner_spark_pipeline")
    t = spark.read.parquet(args.input)

    if args.stages in ("all", "incremental"):
        from ner_spark.pipeline import PipelineConfig, run_incremental, run_pipeline

        cfg = PipelineConfig(
            out_dir=args.output, run_id=args.run_id, resume=not args.no_resume
        )
        from ner_spark.operators.manifest import (
            manifest_rows,
            stage_data_path,
            stage_row_counts,
        )

        if args.stages == "incremental":
            if not args.base_run_id:
                ap.error("--stages incremental requires --base-run-id")
            out = run_incremental(spark, t, cfg, base_run_id=args.base_run_id)
        else:
            out = run_pipeline(spark, t, cfg)
        # the rows each stage's publish recorded, in one manifest read
        rows = stage_row_counts(
            manifest_rows(spark, args.output, [args.run_id]), args.run_id
        )
        for stage in out:
            print(
                json.dumps(
                    {
                        "stage": stage,
                        "rows": rows[stage],
                        "output": stage_data_path(args.output, args.run_id, stage),
                    }
                )
            )
        from ner_spark.functions.dedup import release_persisted_blocks

        release_persisted_blocks()  # free block-derivation caches
        spark.stop()
        return

    from ner_spark.operators.extraction import mentions_to_triples
    from ner_spark.operators.manifest import write_replace
    from ner_spark.pipeline import build_mentions

    # every tagging task checks that its worker resolves the driver's
    # weights version, so a mismatch either way fails this write; the
    # write replaces <output>/triples only once it has succeeded, so a
    # failed run keeps the last good triples
    out = os.path.join(args.output, "triples")
    write_replace(mentions_to_triples(build_mentions(t)), out)

    back = spark.read.parquet(out)
    n = back.count()
    print(json.dumps({"stage": "extract", "triples": n, "output": out}))
    if args.show:
        back.orderBy("conv_id", "turn_idx", "pred", "obj").show(
            args.show, truncate=False
        )
    spark.stop()


if __name__ == "__main__":
    main()
