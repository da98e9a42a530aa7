"""spark-submit entry point: build (or resume) an index.

Ship the package as a zip and submit:

    python scripts/make_pyfiles.py dist/quicker_spark.zip
    spark-submit --py-files dist/quicker_spark.zip \
        scripts/build_index_cli.py \
        --corpus /data/corpus_parquet --out /data/index \
        --seg-docs 100000

On a cluster the same command runs unchanged (master from spark-submit);
locally pass --master local[32]. `--corpus fixtures:N` generates the
deterministic N-doc synthetic corpus instead of reading parquet.
Re-running with the same --out resumes from the per-wave manifest
(finished segments are skipped) unless --no-resume.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True,
                    help="parquet or .csv path, catalog table identifier, "
                         "or fixtures:N for the synthetic corpus")
    ap.add_argument("--out", required=True, help="index output directory")
    ap.add_argument("--seg-docs", type=int, default=100_000)
    ap.add_argument("--wave-segments", type=int, default=64)
    ap.add_argument("--fields", type=str, default="content,repo,path,lang")
    ap.add_argument("--id-col", type=str, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--master", type=str, default=None)
    args = ap.parse_args()

    b = SparkSession.builder.appName("quicker-build")
    if args.master:
        b = b.master(args.master)
    spark = b.config("spark.sql.adaptive.enabled", "true").getOrCreate()

    from quicker_spark.fixtures import corpus_df
    from quicker_spark.io import read_corpus
    from quicker_spark.operators.build import IndexConfig, build_index

    if args.corpus.startswith("fixtures:"):
        corpus = corpus_df(spark, int(args.corpus.split(":", 1)[1]))
    else:
        # parquet path or Iceberg catalog table (quicker_spark.io seam)
        corpus = read_corpus(spark, args.corpus)

    cfg = IndexConfig(
        seg_docs=args.seg_docs, wave_segments=args.wave_segments,
        fields=tuple(args.fields.split(",")), id_col=args.id_col,
    )
    report = build_index(spark, corpus, args.out, cfg,
                         resume=not args.no_resume)
    print(json.dumps({
        "n_docs": report.n_docs, "n_segments": report.n_segments,
        "waves_run": report.waves_run, "waves_skipped": report.waves_skipped,
        "build_secs": round(report.build_secs, 2),
        "docs_per_sec": round(report.docs_per_sec, 1),
    }))


if __name__ == "__main__":
    main()
