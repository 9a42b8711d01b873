"""spark-submit entrypoint: the production form of the pipeline.

The cluster submission the north rule targets::

    zip -r osel.zip open_semantic_etl_spark
    spark-submit --py-files osel.zip \\
        open_semantic_etl_spark/job.py \\
        --input  s3://…/pages           (parquet/Iceberg pages table) \\
        --root   s3://…/enriched_root   (enriched/ checkpoint/ metrics/) \\
        --gazetteer gazetteer.tsv

Replaces the reference's CLI drivers (etl_file.py:209-273 argument
parsing + config overlay; tasks.py worker startup): one submitted job
per corpus pass, resumable via the checkpoint table (re-submitting the
same command continues where the last run stopped — the Celery
acks_late at-least-once contract, plans/checkpoint.py).

No ``--master``/core flags here: parallelism, executor count, and
memory belong to spark-submit/cluster conf (the reference reads its
concurrency from the environment the same way, tasks.py:42-43).
"""

from __future__ import annotations

import argparse
import json
import sys


def load_gazetteer_tsv(path: str):
    """TSV: uri<TAB>preflabel<TAB>facet<TAB>label|label…<TAB>taxonomy|…
    (the dictionary the reference serves from Solr Text Tagger /
    OpenRefine, enhance_entity_linking.py:50-124, as a flat file that
    ships with --files and broadcasts to executors)."""
    from open_semantic_etl_spark.operators.entity_linking import (
        Gazetteer,
        GazetteerEntry,
    )

    entries = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            parts = line.split("\t")
            if len(parts) < 4:
                continue
            uri, preflabel, facet, labels = parts[:4]
            taxonomy = tuple(parts[4].split("|")) if len(parts) > 4 and parts[4] else ()
            entries.append(
                GazetteerEntry(
                    uri, preflabel, facet,
                    tuple(x for x in labels.split("|") if x), taxonomy,
                )
            )
    return Gazetteer(entries=entries)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="open_semantic_etl_spark.job",
        description="resumable extraction/enrichment pass over a pages table",
    )
    p.add_argument("--input", required=True, help="pages table path (parquet)")
    p.add_argument("--root", required=True,
                   help="output root (enriched/, checkpoint/, metrics/)")
    p.add_argument("--gazetteer", default=None, help="gazetteer TSV path")
    p.add_argument("--repartition", type=int, default=None,
                   help="explicit hash(url) repartition AFTER the checkpoint "
                        "anti-join — use when resuming leaves a sparse, "
                        "clustered subset; leave unset for full passes "
                        "(byte-uniform input splits balance without a shuffle)")
    p.add_argument("--run-id", default=None)
    p.add_argument("--n-buckets", type=int, default=None,
                   help="bucket count for tables this run creates "
                        "(buckets ~= corpus_bytes / target_rewrite_unit); "
                        "each table records it, so later runs may omit it")
    p.add_argument("--master", default=None,
                   help="local testing only; omit under spark-submit")
    return p


def main(argv: list[str] | None = None) -> dict:
    from open_semantic_etl_spark.plans.checkpoint import run_incremental
    from open_semantic_etl_spark.session import get_spark

    args = build_parser().parse_args(argv)
    if args.n_buckets is not None and args.n_buckets <= 0:
        # fail fast: pmod by a non-positive count has no bucket space
        raise SystemExit("--n-buckets must be a positive integer")
    gz = load_gazetteer_tsv(args.gazetteer) if args.gazetteer else None
    # "submit" = inherit the master from spark-submit / cluster conf
    spark = get_spark(app_name="osel-enrich", master=args.master or "submit")
    try:
        pages = spark.read.parquet(args.input)
        stats = run_incremental(
            spark,
            pages,
            args.root,
            gazetteer=gz,
            repartition=args.repartition,
            run_id=args.run_id,
            n_buckets=args.n_buckets,
        )
    finally:
        if args.master:  # local run owns the session; cluster leaves it
            spark.stop()
    print(json.dumps(stats))
    return stats


if __name__ == "__main__":
    main(sys.argv[1:])
